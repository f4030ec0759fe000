"""Query registry — b_llm_ext module: round-3 late additions
(batches 12+), split out of b_llm.py. The ``QUERIES`` dict at the end
pairs every builder here with its DuckDB oracle."""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table, local_df
from ..operators import dedup as dedup_ops
from ..operators import stats
from ..operators import text as text_ops
from .b_llm import (
    DEDUP_CLUSTERS_SQL,
    DUPLICATE_CHUNKS_SQL,
    _LANGID_HITS_SQL,
    _LANGID_PRED,
)


# --------------------------------------------------------------------------
# B64. Corpus-unique n-gram novelty per source (the memorization /
# originality axis of corpus QA — e.g. Lee et al. 2022 "Deduplicating
# Training Data" measures duplicated-substring mass; this is its
# complement): what fraction of a source's distinct word 8-grams
# appear in NO other document corpus-wide? Grams shuffle as md5
# digests (fixed 32-byte keys, parity-exact with the DuckDB oracle —
# duplicate_chunks' convention), never as raw strings; a unique
# gram's owning source is recovered exactly as min(source) over its
# single document.
# --------------------------------------------------------------------------

def gram_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " ")),
                r"\s+")
    toks = docs.select("doc_id", "source", w.alias("t"))
    n = F.size("t")
    grams = (toks.where(n >= 8)
                 .select("doc_id", "source",
                         F.explode(F.array_distinct(F.transform(
                             F.sequence(F.lit(0), n - 8),
                             lambda i: F.md5(F.concat_ws(
                                 " ", F.slice("t", i + 1, 8)))))).alias("g")))
    # each doc belongs to exactly ONE source, so a single
    # (gram, source) aggregation feeds BOTH roll-ups: corpus-wide
    # distinct docs per gram = Σ_source per-source distinct docs, and
    # per-source distinct grams = that table's rows per source. One
    # gram shuffle instead of two full replays (11.9 s → ~4 s at
    # sf0.1); materialized because two consumers read it.
    gs = (grams.groupBy("g", "source")
               .agg(F.countDistinct("doc_id").alias("nd"))
               .localCheckpoint(eager=True))
    stats_g = gs.groupBy("g").agg(
        F.sum("nd").alias("n_docs"),
        F.min("source").alias("one_source"))
    per_src = (gs.groupBy("source")
                 .agg(F.count(F.lit(1)).alias("n_distinct_grams")))
    uniq = (stats_g.where(F.col("n_docs") == 1)
                   .groupBy(F.col("one_source").alias("source"))
                   .agg(F.count(F.lit(1)).alias("n_unique_grams")))
    return (per_src.join(uniq, "source", "left")
            .select("source", "n_distinct_grams",
                    F.coalesce("n_unique_grams", F.lit(0))
                     .alias("n_unique_grams"),
                    F.round(F.coalesce("n_unique_grams", F.lit(0))
                            / F.col("n_distinct_grams").cast("double"), 6)
                     .alias("novelty_rate"))
            .orderBy("source"))

GRAM_NOVELTY_SQL = """
WITH toks AS (
  SELECT doc_id, source,
         string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), '\\s+') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, source,
         unnest(list_transform(
           range(1, greatest(len(t) - 7, 0) + 1),
           i -> md5(concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
                              t[i+4], t[i+5], t[i+6], t[i+7])))) AS g
  FROM toks WHERE len(t) >= 8
), stats_g AS (
  SELECT g, count(DISTINCT doc_id) AS n_docs, min(source) AS one_source
  FROM grams GROUP BY 1
), per_src AS (
  SELECT source, count(DISTINCT g) AS n_distinct_grams FROM grams GROUP BY 1
), uniq AS (
  SELECT one_source AS source, count(*) AS n_unique_grams
  FROM stats_g WHERE n_docs = 1 GROUP BY 1
)
SELECT p.source AS source,
       CAST(n_distinct_grams AS BIGINT) AS n_distinct_grams,
       CAST(coalesce(n_unique_grams, 0) AS BIGINT) AS n_unique_grams,
       round(coalesce(n_unique_grams, 0)
             / CAST(n_distinct_grams AS DOUBLE), 6) AS novelty_rate
FROM per_src p LEFT JOIN uniq u ON p.source = u.source
ORDER BY p.source
"""


# --------------------------------------------------------------------------
# B65. Boilerplate prefix detection per source (header/template
# detection — the prefix analogue of CCNet's repeated-paragraph
# filter): the most common leading word 4-gram per source and the
# share of the source's docs that start with it. Deterministic tie
# break (count DESC, prefix ASC); per-source candidate table is
# bounded by distinct prefixes, the rank window runs on the
# #prefixes-per-source aggregate, never on the corpus.
# --------------------------------------------------------------------------

def boilerplate_prefix_by_source(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " ")),
                r"\s+")
    pre = (docs.select("source", w.alias("t"))
               .where(F.size("t") >= 4)
               .select("source",
                       F.concat_ws(" ", F.slice("t", 1, 4)).alias("prefix")))
    counts = (pre.groupBy("source", "prefix")
                 .agg(F.count(F.lit(1)).alias("n_docs")))
    tot = pre.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    # two-phase argmax: a per-task local top-1 bounds every source's
    # global rank window to ≤#tasks rows (a boilerplate-free source has
    # ~#docs distinct prefixes — the global-only window would put all
    # of them on one task at 100 TB)
    rwl = Window.partitionBy(F.spark_partition_id(), "source").orderBy(
        F.desc("n_docs"), "prefix")
    local = (counts.withColumn("__r", F.row_number().over(rwl))
                   .where(F.col("__r") == 1).drop("__r"))
    rw = Window.partitionBy("source").orderBy(F.desc("n_docs"), "prefix")
    top = (local.withColumn("__r", F.row_number().over(rw))
                .where(F.col("__r") == 1).drop("__r"))
    return (top.join(tot, "source")
               .select("source", F.col("prefix").alias("top_prefix"),
                       F.col("n_docs").alias("n_docs_with_prefix"),
                       F.round(F.col("n_docs")
                               / F.col("n_total").cast("double"), 6)
                        .alias("prefix_share"))
               .orderBy("source"))

BOILERPLATE_PREFIX_SQL = """
WITH pre AS (
  SELECT source, concat_ws(' ', t[1], t[2], t[3], t[4]) AS prefix
  FROM (
    SELECT source,
           string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), '\\s+') AS t
    FROM documents
  ) WHERE len(t) >= 4
), counts AS (
  SELECT source, prefix, count(*) AS n_docs FROM pre GROUP BY 1, 2
), tot AS (
  SELECT source, count(*) AS n_total FROM pre GROUP BY 1
), top AS (
  SELECT source, prefix, n_docs,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_docs DESC, prefix) AS r
  FROM counts
)
SELECT t.source AS source, prefix AS top_prefix,
       CAST(n_docs AS BIGINT) AS n_docs_with_prefix,
       round(n_docs / CAST(n_total AS DOUBLE), 6) AS prefix_share
FROM top t JOIN tot USING (source)
WHERE r = 1
ORDER BY t.source
"""


# --------------------------------------------------------------------------
# B66. Character-class profile per source (encoding/charset QA — the
# mojibake axis of corpus hygiene; C4 and CCNet both gate on
# printable-character ratios): per-source mean fractions of
# whitespace, digit, uppercase and symbol characters, plus the count
# of docs containing anything outside printable ASCII. Pure codegen
# length/regexp arithmetic — no Python in the scan.
# --------------------------------------------------------------------------

def charset_profile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    ln = F.length(t).cast("double")
    def frac(pattern):
        return (ln - F.length(F.regexp_replace(t, pattern, ""))) / ln
    return (docs.where(ln > 0)
                .groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.round(F.avg(frac(r"[ \t\n\r]")), 6).alias("ws_frac"),
                     F.round(F.avg(frac("[0-9]")), 6).alias("digit_frac"),
                     F.round(F.avg(frac("[A-Z]")), 6).alias("upper_frac"),
                     F.round(F.avg(frac("[^a-zA-Z0-9 \t\n\r]")), 6)
                      .alias("symbol_frac"),
                     F.sum(F.when(t.rlike("[^ -~]"), 1).otherwise(0))
                      .alias("n_docs_non_ascii"))
                .orderBy("source"))

CHARSET_PROFILE_SQL = """
WITH d AS (
  SELECT source, text, CAST(length(text) AS DOUBLE) AS ln
  FROM documents WHERE length(text) > 0
)
SELECT source, count(*) AS n_docs,
  round(avg((ln - length(regexp_replace(text, '[ \t\n\r]', '', 'g'))) / ln), 6) AS ws_frac,
  round(avg((ln - length(regexp_replace(text, '[0-9]', '', 'g'))) / ln), 6) AS digit_frac,
  round(avg((ln - length(regexp_replace(text, '[A-Z]', '', 'g'))) / ln), 6) AS upper_frac,
  round(avg((ln - length(regexp_replace(text, '[^a-zA-Z0-9 \t\n\r]', '', 'g'))) / ln), 6) AS symbol_frac,
  CAST(sum(CASE WHEN regexp_matches(text, '[^ -~]') THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_non_ascii
FROM d GROUP BY source ORDER BY source
"""


# --------------------------------------------------------------------------
# B67. Sequence-packing statistics (GPT-style concat-and-chunk: docs
# are concatenated in doc_id order and cut into fixed 512-token
# training sequences): sequence count, fill rate, and how many docs
# span a cut boundary. The global token cumsum rides
# stats.range_cumsum (range-partitioned prefix sum — no single-task
# window over the corpus); everything downstream is integer-exact
# closed forms of (start, end) offsets, so parity cannot drift.
# --------------------------------------------------------------------------

def token_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq_len = 512
    docs = load_table(spark, sf_dir, "documents")
    ntok = F.regexp_count("text", F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"))
    toks = docs.select("doc_id", ntok.cast("long").alias("n"))
    cum = stats.range_cumsum(toks, "doc_id", ["n"])
    first_seq = F.floor((F.col("cum_n") - F.col("n")) / seq_len)
    last_seq = F.floor((F.col("cum_n") - 1) / seq_len)
    agg = cum.where(F.col("n") > 0).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("total_tokens"),
        F.sum(F.when(last_seq > first_seq, 1).otherwise(0))
         .alias("n_docs_crossing"))
    nseq = F.ceil(F.col("total_tokens") / F.lit(seq_len).cast("double"))
    return agg.select(
        "n_docs", "total_tokens",
        nseq.cast("long").alias("n_sequences"),
        "n_docs_crossing",
        F.round(F.col("total_tokens")
                / (nseq * seq_len).cast("double"), 6).alias("fill_rate"),
        F.round(F.col("n_docs_crossing")
                / F.col("n_docs").cast("double"), 6).alias("crossing_rate"))

TOKEN_PACKING_SQL = """
WITH toks AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n
  FROM documents
), cum AS (
  SELECT doc_id, n, sum(n) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_n
  FROM toks
), agg AS (
  SELECT count(*) AS n_docs, sum(n) AS total_tokens,
         sum(CASE WHEN (cum_n - 1) // 512 > (cum_n - n) // 512
             THEN 1 ELSE 0 END) AS n_docs_crossing
  FROM cum WHERE n > 0
)
SELECT CAST(n_docs AS BIGINT) AS n_docs,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       CAST(ceil(total_tokens / 512.0) AS BIGINT) AS n_sequences,
       CAST(n_docs_crossing AS BIGINT) AS n_docs_crossing,
       round(total_tokens
             / (ceil(total_tokens / 512.0) * 512.0), 6) AS fill_rate,
       round(n_docs_crossing / CAST(n_docs AS DOUBLE), 6) AS crossing_rate
FROM agg
"""


# --------------------------------------------------------------------------
# B68. Temperature-scaled source mixture weights (the multilingual /
# multi-source sampling rule of mBERT/XLM-R and the Pile: sample
# source s with probability p_s^α / Σ p^α, α=0.7, to up-weight small
# sources without drowning large ones). Token counts come off ONE
# codegen regexp scan; the α-power renormalization runs on the
# ≤#sources aggregate. upsample_factor is the resulting per-source
# duplication rate a data loader would apply.
# --------------------------------------------------------------------------

def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ntok = F.regexp_count("text", F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"))
    per = (docs.groupBy("source")
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum(ntok.cast("long")).alias("n_tokens")))
    tot = per.agg(F.sum("n_tokens").alias("all_tok"))
    shared = (per.crossJoin(F.broadcast(tot))
                 .withColumn("p", F.col("n_tokens")
                             / F.col("all_tok").cast("double"))
                 .withColumn("pa", F.pow("p", F.lit(0.7))))
    norm = shared.agg(F.sum("pa").alias("z"))
    return (shared.crossJoin(F.broadcast(norm))
                  .select("source", "n_docs", "n_tokens",
                          F.round("p", 6).alias("natural_share"),
                          F.round(F.col("pa") / F.col("z"), 6)
                           .alias("temp_share"),
                          F.round(F.col("pa") / F.col("z") / F.col("p"), 4)
                           .alias("upsample_factor"))
                  .orderBy("source"))

SOURCE_MIXTURE_SQL = """
WITH per AS (
  SELECT source, count(*) AS n_docs,
         sum(CAST(len(regexp_extract_all(
             text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT))
           AS n_tokens
  FROM documents GROUP BY 1
), tot AS (SELECT sum(n_tokens) AS all_tok FROM per),
shared AS (
  SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
         n_tokens / CAST(all_tok AS DOUBLE) AS p,
         pow(n_tokens / CAST(all_tok AS DOUBLE), 0.7) AS pa
  FROM per CROSS JOIN tot
), norm AS (SELECT sum(pa) AS z FROM shared)
SELECT source, n_docs, n_tokens,
       round(p, 6) AS natural_share,
       round(pa / z, 6) AS temp_share,
       round(pa / z / p, 4) AS upsample_factor
FROM shared CROSS JOIN norm
ORDER BY source
"""


# --------------------------------------------------------------------------
# B69. Padding-waste accounting under length-bucketed batching (the
# pad-to-bucket strategy every LLM data loader uses when it does NOT
# pack — the cost-model complement of B67's packing stats): docs fall
# into power-of-two token-length buckets via an exact integer CASE
# chain (no log2 libm at bucket boundaries), and each bucket reports
# the fraction of padded slots wasted. Pure codegen scan + ≤9-group
# aggregate.
# --------------------------------------------------------------------------

def padding_waste_by_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ntok = (F.regexp_count("text", F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"))
            .cast("long"))
    d = docs.select(ntok.alias("n")).where(F.col("n") > 0)
    bucket = F.when(F.col("n") <= 16, 16)
    for b in (32, 64, 128, 256, 512, 1024, 2048, 4096):
        bucket = bucket.when(F.col("n") <= b, b)
    bucket = bucket.otherwise(8192)
    return (d.groupBy(bucket.alias("bucket_len"))
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("n").alias("n_tokens"))
             .select("bucket_len", "n_docs", "n_tokens",
                     (F.col("n_docs") * F.col("bucket_len"))
                      .alias("padded_slots"),
                     F.round(1.0 - F.col("n_tokens")
                             / (F.col("n_docs") * F.col("bucket_len"))
                             .cast("double"), 6).alias("waste_frac"))
             .orderBy("bucket_len"))

PADDING_WASTE_SQL = """
WITH d AS (
  SELECT CAST(len(regexp_extract_all(
           text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n
  FROM documents
), nz AS (SELECT n FROM d WHERE n > 0),
b AS (
  SELECT n,
         CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
              WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
              WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
              WHEN n <= 1024 THEN 1024 WHEN n <= 2048 THEN 2048
              WHEN n <= 4096 THEN 4096 ELSE 8192 END AS bucket_len
  FROM nz
)
SELECT bucket_len, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(count(*) * bucket_len AS BIGINT) AS padded_slots,
       round(1.0 - sum(n) / CAST(count(*) * bucket_len AS DOUBLE), 6)
         AS waste_frac
FROM b GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# B70. Corpus source-diversity indices (ecology's Shannon/Simpson
# applied to training-mix design — "how many effective sources does
# this corpus have?", by doc share AND token share): entropy in nats,
# exp(H) effective counts, inverse-Simpson. Two bounded aggregates
# over the per-source table; one row out.
# --------------------------------------------------------------------------

def source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ntok = F.regexp_count("text", F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"))
    per = (docs.groupBy("source")
               .agg(F.count(F.lit(1)).alias("nd"),
                    F.sum(ntok.cast("long")).alias("nt")))
    tot = per.agg(F.sum("nd").alias("td"), F.sum("nt").alias("tt"))
    pd_ = F.col("nd") / F.col("td").cast("double")
    pt = F.col("nt") / F.col("tt").cast("double")
    agg = (per.crossJoin(F.broadcast(tot))
              .agg(F.count(F.lit(1)).alias("n_sources"),
                   F.sum(-pd_ * F.log(pd_)).alias("hd"),
                   F.sum(pd_ * pd_).alias("sd"),
                   F.sum(-pt * F.log(pt)).alias("ht"),
                   F.sum(pt * pt).alias("st")))
    return agg.select(
        "n_sources",
        F.round("hd", 6).alias("doc_entropy_nats"),
        F.round(F.exp("hd"), 4).alias("doc_effective_sources"),
        F.round(1.0 / F.col("sd"), 4).alias("doc_inv_simpson"),
        F.round("ht", 6).alias("token_entropy_nats"),
        F.round(F.exp("ht"), 4).alias("token_effective_sources"),
        F.round(1.0 / F.col("st"), 4).alias("token_inv_simpson"))

SOURCE_DIVERSITY_SQL = """
WITH per AS (
  SELECT source, count(*) AS nd,
         sum(CAST(len(regexp_extract_all(
             text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT)) AS nt
  FROM documents GROUP BY 1
), tot AS (SELECT sum(nd) AS td, sum(nt) AS tt FROM per),
agg AS (
  SELECT count(*) AS n_sources,
         sum(-(nd / CAST(td AS DOUBLE)) * ln(nd / CAST(td AS DOUBLE)))
           AS hd,
         sum((nd / CAST(td AS DOUBLE)) * (nd / CAST(td AS DOUBLE))) AS sd,
         sum(-(nt / CAST(tt AS DOUBLE)) * ln(nt / CAST(tt AS DOUBLE)))
           AS ht,
         sum((nt / CAST(tt AS DOUBLE)) * (nt / CAST(tt AS DOUBLE))) AS st
  FROM per CROSS JOIN tot
)
SELECT CAST(n_sources AS BIGINT) AS n_sources,
       round(hd, 6) AS doc_entropy_nats,
       round(exp(hd), 4) AS doc_effective_sources,
       round(1.0 / sd, 4) AS doc_inv_simpson,
       round(ht, 6) AS token_entropy_nats,
       round(exp(ht), 4) AS token_effective_sources,
       round(1.0 / st, 4) AS token_inv_simpson
FROM agg
"""


# --------------------------------------------------------------------------
# B71. Matryoshka dimension-truncation recall (Kusupati et al. 2022
# MRL evaluation shape): how much of the exact 64-dim cosine top-5
# does a prefix-truncated embedding retain at dims 8/16/32? The dim
# sweep is one codegen explode over the broadcast query set; each
# (dim, query) ranking is a ~corpus-row partition window on ROUNDED
# (6 dp) scores with vec_id tie-break, so both engines cut identical
# top-5 sets; recall joins the truncated set against the 64-dim set.
# At 100 TB the exact per-query scan is the contract (this is an
# EVALUATION query over a sampled query set, not the serving path —
# that's B6/B6b).
# --------------------------------------------------------------------------

def ann_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (load_table(spark, sf_dir, "embeddings")
           .select("vec_id", F.col("embedding").cast("array<double>")
                   .alias("e")))
    q = (emb.where(F.col("vec_id") < 10)
            .select(F.col("vec_id").alias("qid"), F.col("e").alias("qe")))
    pairs = (emb.crossJoin(F.broadcast(q))
                .where(F.col("vec_id") != F.col("qid"))
                .select("qid", "vec_id", "e", "qe"))
    # Vectorized prefix-cosine scorer (optimization round 10, guide
    # §4.2; restructured round 11 per VERDICT r10 #7): the dim sweep
    # used to EXPLODE before the UDF, shipping both 64-dim vectors
    # through Arrow once per (pair, dim) — 4x the bytes and rows the
    # scorer needs. Now ONE UDF call per PAIR returns all four prefix
    # scores as an array and the (dim, score) rows explode AFTER
    # scoring. Each score is the identical per-row einsum over the
    # identical [:dd] slice (einsum "ij,ij->i" reduces each row
    # independently, so batching by pair instead of by (pair, dim)
    # cannot change a value — verified by the unchanged oracle hash at
    # all three SFs). NULL-score contract kept: a zero-norm (truncated)
    # vector has undefined cosine — a NULL array element explodes to a
    # NULL score row that sorts last, never an ANSI job abort. This is
    # the one cosine site that KEEPS NULL-score rows rather than
    # excluding them (similarity._unit_nonzero): here zero norms arise
    # from PREFIX truncation of nonzero vectors, the metric is recall
    # of the full-dim ranking, and both engines rank NULLs last
    # identically — excluding would silently shrink the recall
    # denominator. Rounding is np.round (half-even on the scaled
    # double) — see similarity._cosine_score_udf for the documented
    # tie-class contract vs F.round/DuckDB.
    import pandas as pd

    _DIMS = (8, 16, 32, 64)

    @F.pandas_udf("array<double>")
    def prefix_cos_all(e, qe):
        import numpy as np
        if not len(e):
            return pd.Series([], dtype=object)
        E = np.stack(e.to_numpy())
        Qe = np.stack(qe.to_numpy())
        cols = []
        nulls = []
        for dd in _DIMS:
            A, B = E[:, :dd], Qe[:, :dd]
            dot = np.einsum("ij,ij->i", A, B)
            den = (np.sqrt(np.einsum("ij,ij->i", A, A))
                   * np.sqrt(np.einsum("ij,ij->i", B, B)))
            with np.errstate(invalid="ignore", divide="ignore"):
                s = np.round(dot / den, 6)
            # NULL exactly where the old per-(pair, dim) form's masked
            # Float64 produced NA: zero norms AND NaN scores (a NaN
            # element in a vector) — a raw NaN in the array<double>
            # would sort FIRST under desc ordering, not last
            nulls.append((den == 0.0) | np.isnan(s))
            cols.append(s)
        S = np.stack(cols, axis=1).astype(object)   # (n, #dims)
        S[np.stack(nulls, axis=1)] = None
        return pd.Series(S.tolist())

    dim_arr = F.array(*[F.lit(d) for d in _DIMS])
    scored = (pairs.select("qid", "vec_id",
                           prefix_cos_all(F.col("e"), F.col("qe"))
                           .alias("__sc"))
                   .select("qid", "vec_id",
                           F.posexplode("__sc").alias("__pos", "score"))
                   .withColumn("dim", F.element_at(dim_arr,
                                                   F.col("__pos") + 1))
                   .select("qid", "vec_id", "dim", "score"))
    # two-phase exact top-5 (the cosine_topk discipline): a per-task
    # local prune bounds every (dim, qid) group to ≤5·#tasks rows
    # BEFORE the global rank window — without it, each (dim, qid)
    # partition is corpus-sized on one task at 100 TB. The merge of
    # per-task top-5s contains the global top-5 exactly (same
    # score-desc/vec_id-asc order in both phases).
    wl = Window.partitionBy(F.spark_partition_id(), "dim", "qid").orderBy(
        F.desc("score"), "vec_id")
    pruned = (scored.withColumn("__lr", F.row_number().over(wl))
                    .where(F.col("__lr") <= 5).drop("__lr"))
    w = Window.partitionBy("dim", "qid").orderBy(F.desc("score"), "vec_id")
    top = (pruned.withColumn("r", F.row_number().over(w))
                 .where(F.col("r") <= 5)
                 .select("dim", "qid", "vec_id"))
    full = (top.where(F.col("dim") == 64)
               .select(F.col("qid").alias("fqid"),
                       F.col("vec_id").alias("fid")))
    trunc = top.where(F.col("dim") < 64)
    hits = (trunc.join(full, (trunc.qid == full.fqid)
                       & (trunc.vec_id == full.fid))
                 .groupBy("dim", "qid")
                 .agg(F.count(F.lit(1)).alias("h")))
    base = trunc.select("dim", "qid").distinct()
    return (base.join(hits, ["dim", "qid"], "left")
                .groupBy("dim")
                .agg(F.count(F.lit(1)).alias("n_queries"),
                     F.round(F.avg(F.coalesce("h", F.lit(0)) / F.lit(5.0)),
                             4).alias("mean_recall_at_5"))
                .orderBy("dim"))

ANN_TRUNCATION_SQL = """
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), q AS (
  SELECT vec_id AS qid, e AS qe FROM emb WHERE vec_id < 10
), dims AS (SELECT unnest([8, 16, 32, 64]) AS dim),
scored AS (
  SELECT c.vec_id, q.qid, d.dim,
         round(list_dot_product(c.e[1:d.dim], q.qe[1:d.dim])
               / nullif(sqrt(list_dot_product(c.e[1:d.dim],
                                              c.e[1:d.dim]))
                  * sqrt(list_dot_product(q.qe[1:d.dim],
                                          q.qe[1:d.dim])), 0), 6)
           AS score
  FROM emb c CROSS JOIN q CROSS JOIN dims d
  WHERE c.vec_id <> q.qid
), top AS (
  SELECT dim, qid, vec_id
  FROM (SELECT dim, qid, vec_id,
               row_number() OVER (PARTITION BY dim, qid
                                  ORDER BY score DESC, vec_id) AS r
        FROM scored)
  WHERE r <= 5
), full_set AS (
  SELECT qid, vec_id AS fid FROM top WHERE dim = 64
), hits AS (
  SELECT t.dim, t.qid, count(*) AS h
  FROM top t JOIN full_set f ON t.qid = f.qid AND t.vec_id = f.fid
  WHERE t.dim < 64 GROUP BY 1, 2
), base AS (
  SELECT DISTINCT dim, qid FROM top WHERE dim < 64
)
SELECT b.dim AS dim, CAST(count(*) AS BIGINT) AS n_queries,
       round(avg(coalesce(h, 0) / 5.0), 4) AS mean_recall_at_5
FROM base b LEFT JOIN hits USING (dim, qid)
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# B72. Bigram-LM perplexity per source (the KenLM-style fluency score
# CCNet filters on — one order up from B29's unigram surprisal):
# add-k-smoothed p(w₂|w₁) with context counts and the w₂ vocabulary
# from the corpus itself. One tokenize pass emits in-row adjacent
# pairs; two bounded joins (bigram + context counts) score every
# bigram occurrence; per-doc NLLs roll up per source. FP-exact
# rollup: the per-doc mean is a count-weighted exact-sum division.
# --------------------------------------------------------------------------

def bigram_ppl_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " ")),
                r"\s+")
    toks = docs.select("doc_id", "source", w.alias("t"))
    n = F.size("t")
    big = (toks.where(n >= 2)
               .select("doc_id", "source",
                       F.explode(F.transform(
                           F.sequence(F.lit(1), n - 1),
                           lambda i: F.struct(
                               F.element_at("t", i).alias("w1"),
                               F.element_at("t", i + 1).alias("w2"))))
                        .alias("b"))
               .select("doc_id", "source",
                       F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
               .localCheckpoint(eager=True))
    cb = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cu = big.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    vocab = big.agg(F.countDistinct("w2").alias("v"))
    p = ((F.col("cb") + 0.5)
         / (F.col("cu") + 0.5 * F.col("v")).cast("double"))
    doc = (big.join(cb, ["w1", "w2"]).join(cu, "w1")
              .crossJoin(F.broadcast(vocab))
              .groupBy("doc_id", "source")
              .agg((F.sum(-F.log(p)) / F.count(F.lit(1))).alias("nll")))
    return (doc.groupBy("source")
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.round(F.avg("nll"), 4).alias("avg_bigram_nll"),
                    F.round(F.exp(F.avg("nll")), 2).alias("perplexity"))
               .orderBy("source"))

BIGRAM_PPL_SQL = r"""
WITH toks AS (
  SELECT doc_id, source,
         string_split_regex(trim(regexp_replace(lower(text),
             '[^a-z0-9 ]', ' ', 'g')), '\s+') AS t
  FROM documents
), big AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, len(t)),
                i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS b
  FROM toks WHERE len(t) >= 2
), pairs AS (
  SELECT doc_id, source, b.w1 AS w1, b.w2 AS w2 FROM big
), cb AS (SELECT w1, w2, count(*) AS cb FROM pairs GROUP BY 1, 2),
cu AS (SELECT w1, count(*) AS cu FROM pairs GROUP BY 1),
vocab AS (SELECT count(DISTINCT w2) AS v FROM pairs),
doc AS (
  SELECT doc_id, source,
         sum(-ln((cb + 0.5) / CAST(cu + 0.5 * v AS DOUBLE)))
           / count(*) AS nll
  FROM pairs JOIN cb USING (w1, w2) JOIN cu USING (w1)
  CROSS JOIN vocab
  GROUP BY 1, 2
)
SELECT source, count(*) AS n_docs,
       round(avg(nll), 4) AS avg_bigram_nll,
       round(exp(avg(nll)), 2) AS perplexity
FROM doc GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# B76. Embedding isotropy / norm profile (Ethayarajh 2019's anisotropy
# diagnostic; degenerate "cone-shaped" embedding spaces break cosine
# retrieval): mean pairwise cosine across ALL n² pairs WITHOUT an n²
# computation, via the exact identity Σᵢ≠ⱼ v̂ᵢ·v̂ⱼ = ‖Σv̂‖² − n for
# unit-normalized vectors. Norms fold in-row (no self-join); the
# dimension sums are one 64-group shuffle.
# --------------------------------------------------------------------------

def embedding_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (load_table(spark, sf_dir, "embeddings")
           .select(F.col("embedding").cast("array<double>").alias("e")))
    nrm = F.sqrt(F.aggregate(F.transform("e", lambda x: x * x),
                             F.lit(0.0), lambda a, v: a + v))
    # nullif INSIDE the division too: the nrm>0 filter does not stop
    # ANSI codegen from evaluating the normalization for zero-norm
    # rows in the same stage — observed job abort on an all-zero-
    # vector corpus despite the preceding where()
    d = (emb.withColumn("nrm", nrm)
            .where(F.col("nrm") > 0)
            .withColumn("vhat", F.transform(
                "e", lambda x: x / F.nullif(F.col("nrm"), F.lit(0.0)))))
    stats_n = d.agg(F.count(F.lit(1)).alias("n"),
                    F.avg("nrm").alias("mean_norm"),
                    F.stddev_pop("nrm").alias("sd_norm"))
    dims = (d.select(F.posexplode("vhat").alias("dim", "val"))
             .groupBy("dim").agg(F.sum("val").alias("s")))
    ss = dims.agg(F.count(F.lit(1)).alias("dim"),
                  F.sum(F.col("s") * F.col("s")).alias("ss"))
    nn = F.col("n").cast("double")
    return (stats_n.crossJoin(F.broadcast(ss))
            .select(F.col("n").cast("long").alias("n_vectors"),
                    F.col("dim").cast("int").alias("dim"),
                    F.round("mean_norm", 6).alias("mean_norm"),
                    # nullif: an all-zero-vector corpus leaves NO rows
                    # after the nrm>0 filter — n(n−1) = 0 => NULL, not
                    # an ANSI DIVIDE_BY_ZERO job abort
                    F.round(F.col("sd_norm")
                            / F.nullif(F.col("mean_norm"), F.lit(0.0)),
                            6).alias("norm_cv"),
                    F.round((F.col("ss") - nn)
                            / F.nullif(nn * (nn - 1), F.lit(0.0)), 6)
                     .alias("mean_pairwise_cosine")))

EMB_ISOTROPY_SQL = """
WITH e AS (
  SELECT embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[],
                               embedding::DOUBLE[])) AS nrm
  FROM embeddings
), d AS (
  SELECT e, nrm, list_transform(e, x -> x / nrm) AS vhat
  FROM e WHERE nrm > 0
), stats_n AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, avg(nrm) AS mean_norm,
         stddev_pop(nrm) AS sd_norm
  FROM d
), dims AS (
  SELECT dim, sum(val) AS s
  FROM (SELECT unnest(vhat) AS val,
               generate_subscripts(vhat, 1) - 1 AS dim FROM d)
  GROUP BY 1
), ss AS (SELECT count(*) AS dim, sum(s * s) AS ss FROM dims)
SELECT CAST(n AS BIGINT) AS n_vectors,
       CAST(dim AS INT) AS dim,
       round(mean_norm, 6) AS mean_norm,
       round(sd_norm / nullif(mean_norm, 0), 6) AS norm_cv,
       round((ss - n) / nullif(n * (n - 1), 0), 6)
         AS mean_pairwise_cosine
FROM stats_n CROSS JOIN ss
"""


# --------------------------------------------------------------------------
# B77. Vocabulary coverage at top-k cutoffs (the OOV-rate curve that
# sizes a tokenizer's vocab): what fraction of corpus tokens do the
# k most frequent words cover, k ∈ {100, 1k, 10k}? The curve is read
# off the COUNT-OF-COUNTS table (bounded by distinct frequency
# values, thousands at any corpus size — the Zipf tail compresses),
# never off a ranked vocab window; inside a frequency-tie group every
# word contributes the same count, so the partial-group interpolation
# is exact without any word-level tie-break.
# --------------------------------------------------------------------------

def vocab_coverage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " ")),
                r"\s+")
    tok = docs.select(F.explode(w).alias("tok")).where(F.col("tok") != "")
    vocab = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    cc = (vocab.groupBy("c").agg(F.count(F.lit(1)).alias("nw"))
               .withColumn("neg_c", -F.col("c")))
    cum = stats.range_cumsum(
        cc.withColumn("ctok", F.col("c") * F.col("nw")),
        "neg_c", ["nw", "ctok"])
    tot = vocab.agg(F.sum("c").alias("n_tokens"),
                    F.count(F.lit(1)).alias("vocab_size"))
    ks = spark.range(1).select(
        F.explode(F.array(F.lit(100), F.lit(1000), F.lit(10000)))
         .alias("k"))
    j = (ks.crossJoin(F.broadcast(tot))
           .join(F.broadcast(
                     cum.select("c", "nw", "ctok", "cum_nw", "cum_ctok")),
                 (F.col("cum_nw") - F.col("nw") < F.col("k"))
                 & (F.col("cum_nw") >= F.col("k")), "left"))
    covered = (F.col("cum_ctok") - F.col("ctok")
               + (F.col("k") - (F.col("cum_nw") - F.col("nw")))
               * F.col("c"))
    cov = F.when(F.col("c").isNull(), F.lit(1.0)).otherwise(
        covered / F.col("n_tokens").cast("double"))
    return (j.select(F.col("k").cast("int").alias("top_k"),
                     F.col("vocab_size").cast("long").alias("vocab_size"),
                     F.round(cov, 6).alias("token_coverage"),
                     F.round(1.0 - cov, 6).alias("oov_rate"))
             .orderBy("top_k"))

VOCAB_COVERAGE_SQL = r"""
WITH tok AS (
  SELECT unnest(string_split_regex(trim(regexp_replace(lower(text),
             '[^a-z0-9 ]', ' ', 'g')), '\s+')) AS tok
  FROM documents
), vocab AS (
  SELECT tok, count(*) AS c FROM tok WHERE tok <> '' GROUP BY 1
), cc AS (
  SELECT c, count(*) AS nw, c * count(*) AS ctok
  FROM vocab GROUP BY 1
), cum AS (
  SELECT c, nw, ctok,
         sum(nw) OVER w AS cum_nw, sum(ctok) OVER w AS cum_ctok
  FROM cc WINDOW w AS (ORDER BY c DESC ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW)
), tot AS (SELECT sum(c) AS n_tokens, count(*) AS vocab_size FROM vocab),
ks AS (SELECT unnest([100, 1000, 10000]) AS k)
SELECT CAST(k AS INT) AS top_k,
       CAST(vocab_size AS BIGINT) AS vocab_size,
       round(coalesce((cum_ctok - ctok + (k - (cum_nw - nw)) * c)
                      / CAST(n_tokens AS DOUBLE), 1.0), 6)
         AS token_coverage,
       round(1.0 - coalesce((cum_ctok - ctok + (k - (cum_nw - nw)) * c)
                            / CAST(n_tokens AS DOUBLE), 1.0), 6)
         AS oov_rate
FROM ks CROSS JOIN tot
LEFT JOIN cum ON cum_nw - nw < k AND cum_nw >= k
ORDER BY top_k
"""


# --------------------------------------------------------------------------
# B78. Cross-source exact-duplicate audit (syndication/mirror
# detection — the provenance view of B1): how many exact-text
# clusters span more than one source, and which source pairs share
# the most duplicated text? Only 16-byte md5 digests shuffle; the
# pair expansion runs on per-digest DISTINCT source lists (bounded by
# #sources, in-row i<j expansion — never a self-join).
# --------------------------------------------------------------------------

def cross_source_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(F.md5("text").alias("h"), "source")
    per = (h.groupBy("h")
            .agg(F.sort_array(F.collect_set("source")).alias("srcs"),
                 F.count(F.lit(1)).alias("n_docs"))
            .where(F.size("srcs") >= 2))
    pairs = per.select(F.explode(F.expr(
        "flatten(transform(sequence(1, size(srcs) - 1), "
        "i -> transform(slice(srcs, i + 1, size(srcs) - i), "
        "x -> struct(element_at(srcs, i) AS src_a, x AS src_b))))"
    )).alias("p"), F.col("n_docs"))
    return (pairs.groupBy(F.col("p.src_a").alias("src_a"),
                          F.col("p.src_b").alias("src_b"))
                 .agg(F.count(F.lit(1)).alias("n_shared_texts"),
                      F.sum("n_docs").alias("n_docs_involved"))
                 .orderBy(F.desc("n_shared_texts"), "src_a", "src_b"))

CROSS_SOURCE_DUP_SQL = """
WITH per AS (
  SELECT md5(text) AS h, list_sort(list(DISTINCT source)) AS srcs,
         count(*) AS n_docs
  FROM documents GROUP BY md5(text)
  HAVING len(list(DISTINCT source)) >= 2
), pairs AS (
  SELECT unnest(flatten(list_transform(range(1, len(srcs)),
           i -> list_transform(srcs[i+1:],
                x -> struct_pack(src_a := srcs[i], src_b := x))))) AS p,
         n_docs
  FROM per
)
SELECT p.src_a AS src_a, p.src_b AS src_b,
       count(*) AS n_shared_texts,
       CAST(sum(n_docs) AS BIGINT) AS n_docs_involved
FROM pairs GROUP BY 1, 2
ORDER BY n_shared_texts DESC, src_a, src_b
"""


# --------------------------------------------------------------------------
# B79. Character-level entropy per source (the compressibility proxy
# gzip-filtering approximates — low-entropy docs are boilerplate/
# spam): per-doc Shannon entropy over lowercase characters, averaged
# per source. ONE char explode (linear in corpus chars, the same
# regime as every tokenize op) + a (doc, char) count shuffle; the
# per-doc entropy is an exact-integer-ratio log sum.
# --------------------------------------------------------------------------

def char_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ch = (docs.select("doc_id", "source",
                      F.explode(F.split(F.lower("text"), "")).alias("c"))
              .where(F.col("c") != ""))
    cnt = (ch.groupBy("doc_id", "source", "c")
             .agg(F.count(F.lit(1)).alias("k")))
    tot = Window.partitionBy("doc_id")
    p = F.col("k") / F.sum("k").over(tot).cast("double")
    doc = (cnt.withColumn("term", -p * F.log(p))
              .groupBy("doc_id", "source")
              .agg(F.sum("term").alias("h"),
                   F.count(F.lit(1)).alias("n_distinct_chars")))
    return (doc.groupBy("source")
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.round(F.avg("h"), 6).alias("avg_char_entropy"),
                    F.round(F.avg("n_distinct_chars"), 4)
                     .alias("avg_distinct_chars"))
               .orderBy("source"))

CHAR_ENTROPY_SQL = """
WITH ch AS (
  SELECT doc_id, source, unnest(string_split(lower(text), '')) AS c
  FROM documents
), cnt AS (
  SELECT doc_id, source, c, count(*) AS k
  FROM ch WHERE c <> '' GROUP BY 1, 2, 3
), withp AS (
  SELECT doc_id, source,
         k / CAST(sum(k) OVER (PARTITION BY doc_id) AS DOUBLE) AS p
  FROM cnt
), doc AS (
  SELECT doc_id, source, sum(-p * ln(p)) AS h,
         count(*) AS n_distinct_chars
  FROM withp GROUP BY 1, 2
)
SELECT source, count(*) AS n_docs,
       round(avg(h), 6) AS avg_char_entropy,
       round(avg(n_distinct_chars), 4) AS avg_distinct_chars
FROM doc GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# B80. Dedup savings report per source (the capacity-planning readout
# of B1: how many bytes does exact dedup reclaim, and where?): per
# source, docs beyond the first per md5(text) group and the n_chars
# they carry. Only digests and counts shuffle; the "first" copy is
# the min(doc_id) owner, so per-source attribution is deterministic.
# --------------------------------------------------------------------------

def dedup_savings_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select("doc_id", "source", F.col("n_chars").cast("long")
                    .alias("nc"), F.md5("text").alias("h"))
    keep = h.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    dup = (h.join(keep, "h")
            .withColumn("is_dup",
                        (F.col("doc_id") != F.col("keep_id")).cast("int")))
    return (dup.groupBy("source")
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum("is_dup").alias("n_dup_docs"),
                    F.sum(F.col("is_dup") * F.col("nc"))
                     .alias("chars_saved"),
                    F.round(F.sum(F.col("is_dup") * F.col("nc"))
                            / F.sum("nc").cast("double"), 6)
                     .alias("savings_frac"))
               .orderBy("source"))

DEDUP_SAVINGS_SQL = """
WITH h AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS nc,
         md5(text) AS h
  FROM documents
), keep AS (SELECT h, min(doc_id) AS keep_id FROM h GROUP BY 1),
dup AS (
  SELECT source, nc,
         CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END AS is_dup
  FROM h JOIN keep USING (h)
)
SELECT source, count(*) AS n_docs,
       CAST(sum(is_dup) AS BIGINT) AS n_dup_docs,
       CAST(sum(is_dup * nc) AS BIGINT) AS chars_saved,
       round(sum(is_dup * nc) / CAST(sum(nc) AS DOUBLE), 6)
         AS savings_frac
FROM dup GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# B81. Per-doc contamination fraction profile (the graded view of
# B23's binary decontamination — GPT-3 appendix-C-style overlap
# accounting): what FRACTION of each corpus doc's distinct 3-grams
# appears anywhere in the held-out eval split, summarized per source?
# Eval grams are distinct-collapsed before the join; only grams and
# counts shuffle; the per-doc denominator comes from the same
# tokenize pass.
# --------------------------------------------------------------------------

def contamination_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " ")),
                r"\s+")
    toks = docs.select("doc_id", "source", w.alias("t"))
    n = F.size("t")
    grams = (toks.where(n >= 3)
                 .select("doc_id", "source",
                         F.explode(F.array_distinct(F.transform(
                             F.sequence(F.lit(0), n - 3),
                             lambda i: F.concat_ws(
                                 " ", F.slice("t", i + 1, 3)))))
                          .alias("g")))
    ev = (grams.where(F.col("doc_id") % 20 == 0)
               .select("g").distinct())
    corpus = grams.where(F.col("doc_id") % 20 != 0)
    hit = (corpus.join(ev.withColumn("__hit", F.lit(1)), "g", "left")
                 .groupBy("doc_id", "source")
                 .agg(F.count(F.lit(1)).alias("n_grams"),
                      F.sum(F.coalesce("__hit", F.lit(0)))
                       .alias("n_contaminated")))
    frac = F.col("n_contaminated") / F.col("n_grams").cast("double")
    return (hit.groupBy("source")
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.round(F.avg(frac), 6).alias("avg_contam_frac"),
                    F.round(F.max(frac), 6).alias("max_contam_frac"),
                    F.sum((frac > 0.5).cast("int"))
                     .alias("n_docs_over_half"))
               .orderBy("source"))

CONTAM_PROFILE_SQL = r"""
WITH toks AS (
  SELECT doc_id, source,
         string_split_regex(trim(regexp_replace(lower(text),
             '[^a-z0-9 ]', ' ', 'g')), '\s+') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, source,
         unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS g
  FROM toks WHERE len(t) >= 3
), ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0),
hit AS (
  SELECT c.doc_id, c.source, count(*) AS n_grams,
         sum(CASE WHEN ev.g IS NOT NULL THEN 1 ELSE 0 END)
           AS n_contaminated
  FROM (SELECT * FROM grams WHERE doc_id % 20 <> 0) c
  LEFT JOIN ev ON c.g = ev.g
  GROUP BY 1, 2
)
SELECT source, count(*) AS n_docs,
       round(avg(n_contaminated / CAST(n_grams AS DOUBLE)), 6)
         AS avg_contam_frac,
       round(max(n_contaminated / CAST(n_grams AS DOUBLE)), 6)
         AS max_contam_frac,
       CAST(sum(CASE WHEN n_contaminated / CAST(n_grams AS DOUBLE) > 0.5
                THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_over_half
FROM hit GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# B82. Language-ID confusion matrix (the EVALUATION of B7's stopword
# classifier against the generator's true lang labels — accuracy,
# per-language recall, and every (true, predicted) cell). One
# codegen scan computes the prediction; the matrix is ≤|langs|²
# cells.
# --------------------------------------------------------------------------

def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pred = text_ops.lang_id(docs).select("doc_id", "pred_lang")
    j = docs.select("doc_id", "lang").join(pred, "doc_id")
    cells = (j.groupBy(F.col("lang").alias("true_lang"),
                       F.col("pred_lang"))
              .agg(F.count(F.lit(1)).alias("n")))
    wt = Window.partitionBy("true_lang")
    return (cells.select("true_lang", "pred_lang", "n",
                         F.round(F.col("n")
                                 / F.sum("n").over(wt).cast("double"), 6)
                          .alias("row_frac"))
                 .orderBy("true_lang", "pred_lang"))

LANGID_CONFUSION_SQL = f"""
WITH h AS (
  SELECT doc_id, lang, {_LANGID_HITS_SQL}
  FROM documents
), p AS (
  SELECT doc_id, lang AS true_lang, {_LANGID_PRED} AS pred_lang FROM h
), cells AS (
  SELECT true_lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2
)
SELECT true_lang, pred_lang, n,
       round(n / CAST(sum(n) OVER (PARTITION BY true_lang) AS DOUBLE), 6)
         AS row_frac
FROM cells ORDER BY true_lang, pred_lang
"""


# --------------------------------------------------------------------------
# B83. Embedding effective rank (participation ratio, Gao et al. /
# random-matrix usage; the dimensionality-collapse diagnostic next to
# B76's isotropy): PR = tr(C)² / ‖C‖_F² for the covariance C —
# computable WITHOUT any eigendecomposition because tr(C) = Σ var_i
# and ‖C‖_F² = Σ C_ij². The Gram matrix comes from ONE mapInPandas
# GEMM pass emitting dim²-bounded partials (the kmeans partial-sum
# discipline); nothing driver-side scales with rows.
# --------------------------------------------------------------------------

def embedding_effective_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    emb = (load_table(spark, sf_dir, "embeddings")
           .select(F.col("embedding").cast("array<double>").alias("v")))

    def part(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(pdf["v"].tolist(), dtype=np.float64)
            G = X.T @ X
            d = G.shape[0]
            i, j = np.triu_indices(d)
            yield pd.DataFrame({
                "i": np.concatenate([i, [-1] * d, [-2]]).astype("int32"),
                "j": np.concatenate([j, list(range(d)), [-2]])
                      .astype("int32"),
                "s": np.concatenate([G[i, j], X.sum(axis=0),
                                     [float(len(X))]])})

    parts = (emb.mapInPandas(part, "i int, j int, s double")
                .groupBy("i", "j").agg(F.sum("s").alias("s"))
                .collect())
    gram, mean_s, n = {}, {}, 0.0
    for r in parts:
        if r["i"] == -2:
            n = r["s"]
        elif r["i"] == -1:
            mean_s[r["j"]] = r["s"]
        else:
            gram[(r["i"], r["j"])] = r["s"]
    d = max(j for _, j in gram) + 1
    import numpy as np
    C = np.zeros((d, d))
    mu = np.array([mean_s[k] / n for k in range(d)])
    for (i, j), s in gram.items():
        C[i, j] = C[j, i] = s / n - mu[i] * mu[j]
    tr = float(np.trace(C))
    fro2 = float((C ** 2).sum())
    # a constant-embedding corpus has an all-zero covariance — the
    # participation ratio is undefined => NULL, never a driver-side
    # ZeroDivisionError
    pr = round(tr * tr / fro2, 4) if fro2 > 0 else None
    return local_df(
        spark,
        [(int(n), d, round(tr, 6), round(fro2, 6), pr)],
        "n_vectors long, dim int, trace_cov double, "
        "frobenius_sq double, effective_rank_pr double")

EFFECTIVE_RANK_SQL = """
WITH cells AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
), mu AS (SELECT dim, avg(val) AS m FROM cells GROUP BY 1),
cov AS (
  SELECT a.dim AS i, b.dim AS j,
         avg(a.val * b.val) - any_value(ma.m) * any_value(mb.m) AS c
  FROM cells a
  JOIN cells b ON a.vec_id = b.vec_id
  JOIN mu ma ON ma.dim = a.dim
  JOIN mu mb ON mb.dim = b.dim
  GROUP BY 1, 2
), agg AS (
  SELECT sum(CASE WHEN i = j THEN c ELSE 0 END) AS tr,
         sum(c * c) AS fro2
  FROM cov
), nv AS (SELECT count(*) AS n, max(len(embedding)) AS d
          FROM embeddings)
SELECT CAST(n AS BIGINT) AS n_vectors, CAST(d AS INT) AS dim,
       round(tr, 6) AS trace_cov,
       round(fro2, 6) AS frobenius_sq,
       round(tr * tr / fro2, 4) AS effective_rank_pr
FROM agg CROSS JOIN nv
"""


# --------------------------------------------------------------------------
# B84. Pairwise source-similarity matrix (Jensen-Shannon distance
# between every source PAIR — the corpus-cartography extension of
# B61's source-vs-corpus view; √JS is a proper metric, Endres-
# Schindelin 2003): token mass hashes into the same 64-way grids as
# B61, so the pairwise compute is |sources|²·64 cells regardless of
# corpus size. Missing buckets are completed on a literal 0..63 grid
# with the same +1 smoothing on both engines.
# --------------------------------------------------------------------------

def source_js_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (docs.select(
        "source",
        F.explode(F.split(F.trim(F.regexp_replace(
            F.lower(F.col("text")), "[^a-z0-9]+", " ")), " "))
         .alias("tok"))
        .where(F.col("tok") != ""))
    md5 = F.md5(F.col("tok").cast("binary"))
    bucket = F.pmod(F.conv(F.substring(md5, 1, 2), 16, 10).cast("int"),
                    F.lit(64))
    per = (toks.select("source", bucket.alias("b"))
               .groupBy("source", "b").agg(F.count(F.lit(1)).alias("c")))
    src_tot = per.groupBy("source").agg(F.sum("c").alias("st"))
    buckets = spark.range(64).select(F.col("id").cast("int").alias("b"))
    grid = (src_tot.crossJoin(F.broadcast(buckets))
                   .join(per, ["source", "b"], "left")
                   .withColumn("p", (F.coalesce("c", F.lit(0)) + 1)
                               / (F.col("st") + 64).cast("double")))
    a = grid.select(F.col("source").alias("src_a"), "b",
                    F.col("p").alias("pa"))
    bb = grid.select(F.col("source").alias("src_b"), "b",
                     F.col("p").alias("pb"))
    j = a.join(bb, "b").where(F.col("src_a") < F.col("src_b"))
    m = (F.col("pa") + F.col("pb")) / 2
    term = (0.5 * F.col("pa") * F.log(F.col("pa") / m)
            + 0.5 * F.col("pb") * F.log(F.col("pb") / m))
    return (j.groupBy("src_a", "src_b")
             .agg(F.round(F.sum(term), 6).alias("js_divergence"),
                  F.round(F.sqrt(F.sum(term)), 6).alias("js_distance"))
             .orderBy("src_a", "src_b"))

SOURCE_JS_MATRIX_SQL = """
WITH toks AS (
  SELECT source,
         unnest(string_split(trim(regexp_replace(lower(text),
             '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
  FROM documents
), tb AS (
  SELECT source,
         ((strpos('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substring(md5(tok), 2, 1)) - 1))
         % 64 AS b
  FROM toks WHERE tok <> ''
), per AS (SELECT source, b, count(*) AS c FROM tb GROUP BY 1, 2),
src_tot AS (SELECT source, sum(c) AS st FROM per GROUP BY 1),
grid AS (
  SELECT s.source, bk.b,
         (coalesce(p.c, 0) + 1) / CAST(s.st + 64 AS DOUBLE) AS p
  FROM src_tot s
  CROSS JOIN (SELECT CAST(unnest(range(64)) AS INT) AS b) bk
  LEFT JOIN per p ON p.source = s.source AND p.b = bk.b
)
SELECT a.source AS src_a, b.source AS src_b,
       round(sum(0.5 * a.p * ln(a.p / ((a.p + b.p) / 2))
                 + 0.5 * b.p * ln(b.p / ((a.p + b.p) / 2))), 6)
         AS js_divergence,
       round(sqrt(sum(0.5 * a.p * ln(a.p / ((a.p + b.p) / 2))
                      + 0.5 * b.p * ln(b.p / ((a.p + b.p) / 2)))), 6)
         AS js_distance
FROM grid a JOIN grid b ON a.b = b.b AND a.source < b.source
GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# B85. Per-label embedding cohesion (the clustering-quality readout
# of B17's centroids): mean intra-label pairwise cosine WITHOUT any
# pairwise work — B76's identity applied per label: Σᵢ≠ⱼ v̂ᵢ·v̂ⱼ =
# ‖Σv̂‖² − n within each label — plus each label centroid's cosine to
# the global mean direction. One dim shuffle (labels × 64 groups).
# --------------------------------------------------------------------------

def label_cohesion_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (load_table(spark, sf_dir, "embeddings")
           .select("label", F.col("embedding").cast("array<double>")
                   .alias("e")))
    nrm = F.sqrt(F.aggregate(F.transform("e", lambda x: x * x),
                             F.lit(0.0), lambda a, v: a + v))
    # nullif inside the division (see embedding_isotropy: the filter
    # does not protect ANSI codegen from the zero-norm rows)
    d = (emb.withColumn("nrm", nrm).where(F.col("nrm") > 0)
            .withColumn("vhat", F.transform(
                "e", lambda x: x / F.nullif(F.col("nrm"), F.lit(0.0)))))
    dims = (d.select("label", F.posexplode("vhat").alias("dim", "val"))
             .groupBy("label", "dim").agg(F.sum("val").alias("s"),
                                          F.count(F.lit(1)).alias("n")))
    gdim = dims.groupBy("dim").agg(F.sum("s").alias("gs"))
    gnorm = gdim.agg(F.sqrt(F.sum(F.col("gs") * F.col("gs")))
                     .alias("gn"))
    lab = (dims.join(F.broadcast(gdim), "dim")
               .groupBy("label")
               .agg(F.first("n").alias("n"),
                    F.sum(F.col("s") * F.col("s")).alias("ss"),
                    F.sum(F.col("s") * F.col("gs")).alias("sg")))
    nn = F.col("n").cast("double")
    lnorm = F.sqrt(F.col("ss"))
    return (lab.crossJoin(F.broadcast(gnorm))
               # nullif: a single-vector label zeroes n(n−1); an all-
               # zero-vector label zeroes the norms — undefined =>
               # NULL, never an ANSI DIVIDE_BY_ZERO job abort
               .select("label",
                       F.col("n").cast("long").alias("n_vectors"),
                       F.round((F.col("ss") - nn)
                               / F.nullif(nn * (nn - 1), F.lit(0.0)), 6)
                        .alias("mean_intra_cosine"),
                       F.round(F.col("sg")
                               / F.nullif(lnorm * F.col("gn"),
                                          F.lit(0.0)), 6)
                        .alias("centroid_cos_to_global"))
               .orderBy("label"))

LABEL_COHESION_SQL = """
WITH e AS (
  SELECT label, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[],
                               embedding::DOUBLE[])) AS nrm
  FROM embeddings
), d AS (
  SELECT label, list_transform(e, x -> x / nrm) AS vhat
  FROM e WHERE nrm > 0
), dims AS (
  SELECT label, dim, sum(val) AS s, count(*) AS n
  FROM (SELECT label, unnest(vhat) AS val,
               generate_subscripts(vhat, 1) - 1 AS dim FROM d)
  GROUP BY 1, 2
), gdim AS (SELECT dim, sum(s) AS gs FROM dims GROUP BY 1),
gnorm AS (SELECT sqrt(sum(gs * gs)) AS gn FROM gdim),
lab AS (
  SELECT label, any_value(n) AS n, sum(s * s) AS ss,
         sum(s * gs) AS sg
  FROM dims JOIN gdim USING (dim)
  GROUP BY label
)
SELECT label, CAST(n AS BIGINT) AS n_vectors,
       round((ss - n) / nullif(CAST(n AS DOUBLE) * (n - 1), 0), 6)
         AS mean_intra_cosine,
       round(sg / nullif(sqrt(ss) * gn, 0), 6)
         AS centroid_cos_to_global
FROM lab CROSS JOIN gnorm
ORDER BY label
"""


# --------------------------------------------------------------------------
# B86. Dedup threshold sensitivity curve (how aggressive is near-dup
# removal at each Jaccard cutoff? — the tuning readout every dedup
# pipeline needs before committing a threshold): pair counts and the
# number of distinct docs involved at thresholds 0.1..0.9, computed
# in ONE pass over B4's bounded candidate-pair list (explode over the
# ≤9-step grid; map-side combine collapses it).
# --------------------------------------------------------------------------

def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_ops.ngram_jaccard_pairs(docs, group_col="source",
                                          ngram=3, threshold=0.05)
    grid = (pairs.select("doc_id_a", "doc_id_b", "jaccard",
                         F.explode(F.sequence(F.lit(1), F.lit(9)))
                          .alias("t10"))
                 .where(F.col("jaccard") >= F.col("t10") / 10.0))
    per = (grid.groupBy("t10")
               .agg(F.count(F.lit(1)).alias("n_pairs"),
                    F.countDistinct("doc_id_b").alias("n_docs_removable")))
    return (per.select(F.round(F.col("t10") / 10.0, 1).alias("threshold"),
                       "n_pairs", "n_docs_removable")
               .orderBy("threshold"))

DEDUP_CURVE_SQL = """
WITH toks AS (
  SELECT doc_id, source,
         string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), '\\s+') AS t
  FROM documents
), grams AS (
  SELECT doc_id, source,
         list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS g
  FROM toks
), exploded AS (
  SELECT doc_id, source, unnest(g) AS gram FROM grams
), inter AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS n_inter
  FROM exploded a JOIN exploded b
    ON a.gram = b.gram AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT doc_id_a, doc_id_b,
         round(n_inter / (len(ga.g) + len(gb.g) - n_inter), 4) AS jaccard
  FROM inter
  JOIN grams ga ON ga.doc_id = doc_id_a
  JOIN grams gb ON gb.doc_id = doc_id_b
  WHERE n_inter / (len(ga.g) + len(gb.g) - n_inter) >= 0.05
), grid AS (
  SELECT doc_id_b, jaccard, t10
  FROM pairs CROSS JOIN (SELECT unnest(range(1, 10)) AS t10)
  WHERE jaccard >= t10 / 10.0
)
SELECT round(t10 / 10.0, 1) AS threshold,
       count(*) AS n_pairs,
       CAST(count(DISTINCT doc_id_b) AS BIGINT) AS n_docs_removable
FROM grid GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# B87. Duplicate-cluster size histogram (the shape report on B22's
# connected components — do near-dups come in pairs or in giant
# template families? drives the keep-best retention budget): size
# distribution of the non-singleton clusters plus singleton count.
# One aggregation over the component labels; histogram is bounded by
# the largest family.
# --------------------------------------------------------------------------

def dup_cluster_size_histogram(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_ops.ngram_jaccard_pairs(docs, group_col="source",
                                          ngram=3, threshold=0.05)
    comp = dedup_ops.connected_components(pairs, src="doc_id_a",
                                          dst="doc_id_b")
    sizes = comp.groupBy("lbl").agg(F.count(F.lit(1)).alias("sz"))
    tot_docs = docs.agg(F.count(F.lit(1)).alias("nd"))
    hist = (sizes.groupBy("sz").agg(F.count(F.lit(1)).alias("n_clusters"))
                 .crossJoin(F.broadcast(tot_docs)))
    in_clusters = F.sum(F.col("sz") * F.col("n_clusters")) \
        .over(Window.partitionBy())
    return (hist.select(F.col("sz").cast("int").alias("cluster_size"),
                        "n_clusters",
                        (F.col("sz") * F.col("n_clusters")).cast("long")
                         .alias("n_docs_in_size"),
                        (F.col("nd") - in_clusters).cast("long")
                         .alias("n_singleton_docs"))
                .orderBy("cluster_size"))

DUP_SIZE_HIST_SQL = (
    DEDUP_CLUSTERS_SQL.rsplit("SELECT node, min(lbl) AS lbl", 1)[0]
    .rstrip().rstrip(")").rstrip()  # reopen the CTE list (the
                                    # CLUSTER_KEEP_BEST splice)
    + """)
, comp AS (
  SELECT node, min(lbl) AS lbl FROM reach GROUP BY node
), sizes AS (SELECT lbl, count(*) AS sz FROM comp GROUP BY 1),
hist AS (SELECT sz, count(*) AS n_clusters FROM sizes GROUP BY 1),
tot AS (SELECT count(*) AS nd FROM documents),
ic AS (SELECT sum(sz * n_clusters) AS n_in FROM hist)
SELECT CAST(sz AS INT) AS cluster_size, n_clusters,
       CAST(sz * n_clusters AS BIGINT) AS n_docs_in_size,
       CAST(nd - n_in AS BIGINT) AS n_singleton_docs
FROM hist CROSS JOIN tot CROSS JOIN ic
ORDER BY cluster_size
""")


# --------------------------------------------------------------------------
# B64b. Counting-filter-prefiltered gram novelty (100 TB path for B64
# — VERDICT r04 #7, the B54 relational-Bloom idea as a depth-1
# counting filter): B64's digest shuffle is O(tokens). This twin
# splits the grams with ONE bounded cell-count pass first: each
# per-doc-distinct gram digest maps to a corpus-sized md5 cell
# (16^5..16^8 — _cms_hex_chars); per-cell totals are a map-side-
# combined aggregate whose STATE IS O(cells) no matter the corpus
# size, and only the HOT cells (count >= 2) broadcast back. A gram in a
# COLD cell is PROVABLY corpus-unique (its row is the cell's only
# one), so it never shuffles by digest — per-source counts of those
# rows come straight off the scan. Only candidates (hot cells: true
# duplicates + hash-collision false positives) feed B64's exact
# (g, source) aggregate. Zero false negatives + an exact second pass
# => output IDENTICAL to B64, so the oracle IS B64's one-pass SQL —
# the driver hash-match verifies the lossless-prefilter theorem
# end-to-end. Cost shape: two corpus scans + one bounded aggregate +
# one broadcast join, zero O(corpus) materialization; the win scales
# with the UNIQUE fraction (the production regime — most 8-grams are
# unique), while on an adversarially all-duplicated corpus (the
# replicated stress set) the candidate set is necessarily the corpus
# and the twin degrades to ~2x the exact form, measured in SCALE.md.
# The cell space scales with the corpus (round 6: 16^5 -> 16^8 ~
# 2^20 -> 2^32 by estimated tagged rows, load factor <= 1/4 — see
# _cms_hex_chars); the hot-cell broadcast is bounded by occupied->=2
# cells, never the cell count.
# --------------------------------------------------------------------------

#: Corpus-aware cell-space bounds (VERDICT r05 #3 — the fixed 2^20
#: constant saturated by design at true corpus scale: with ~10^12
#: distinct grams every 20-bit cell holds >= 2 rows and the prefilter
#: prunes nothing). Cells now scale with the ESTIMATED tagged-row
#: count: the smallest hex-prefix width whose 16^h cell space is >=
#: _CMS_LOAD_FACTOR x the estimate, clamped to [5, 8] (2^20 .. 2^32).
#: At load <= 1/4 a globally-unique row is alone in its cell with
#: probability ~e^(-1/4) ~ 78%, so the filter keeps most of its
#: pruning power as the corpus grows. The HOT-cell broadcast is
#: bounded by OCCUPIED >= 2 cells — at most (distinct duplicated
#: digests + expected hash-collision pairs ~ rows^2 / 2·cells), never
#: by the total cell count, so generous cell spaces cost nothing:
#: measured hot-cell relations stay well under 1M rows through the
#: 100x stress tiers in both the all-dup and unique-heavy regimes
#: (SCALE.md round-6). Non-saturation (cold fraction > 0) is asserted
#: at the driver SFs in tests/test_round6.py and at the 20x/100x
#: unique-heavy stress tiers in SCALE.md.
_CMS_MIN_HEX = 5
_CMS_MAX_HEX = 8
_CMS_LOAD_FACTOR = 4
#: Tagged-row estimates per document, padded ~35% above the measured
#: testdata shape (~54 tokens/doc => ~47 distinct word 8-grams and
#: ~18 stride-3 chunks): the estimate only sizes the cell space and
#: the materialization gate — CORRECTNESS NEVER DEPENDS ON IT (the
#: split is lossless at any cell count; a low estimate only costs
#: pruning power, a high one only cells).
_CMS_GRAMS_PER_DOC = 64
_CMS_CHUNKS_PER_DOC = 32


def _cms_hex_chars(est_rows: int) -> int:
    """Smallest md5 hex-prefix width h with 16^h >= _CMS_LOAD_FACTOR x
    est_rows, clamped to [_CMS_MIN_HEX, _CMS_MAX_HEX] — integer
    arithmetic, no float log edge cases."""
    need = max(1, _CMS_LOAD_FACTOR * est_rows)
    h = _CMS_MIN_HEX
    while h < _CMS_MAX_HEX and 16 ** h < need:
        h += 1
    return h


def _cms_pos(col: str, hex_chars: int):
    """The counting-filter cell for a digest column (md5-based like
    B54; no SQL mirror needed — the oracle is the exact query)."""
    return F.conv(F.substring(
        F.md5(F.concat(F.lit("cms|"), F.col(col))), 1, hex_chars),
        16, 10).cast("long")


#: Auto-materialization bound for the tagged digest table (the
#: pagerank auto-state pattern), gated on the ESTIMATED EXPLODED ROW
#: count — not the document count (ADVICE r05: the frame being
#: materialized is the per-doc-distinct gram/chunk table, 1-2 orders
#: of magnitude more rows than docs): below this many tagged rows the
#: table localCheckpoints (one scan, cheap at driver/stress sizes);
#: above it the scan re-runs instead — at corpus scale recomputing a
#: projection beats materializing O(corpus) state.
_CMS_MATERIALIZE_MAX_ROWS = 50_000_000


def _cms_split(frame: DataFrame, digest_col: str, est_rows: int):
    """Tag ``frame`` with its corpus-sized counting-filter cell, then
    one bounded cell-count pass + one broadcast left join: returns the
    input with ``__hot`` (cell count, NULL iff the row's cell is cold,
    i.e. the row is provably globally unique)."""
    tagged = frame.withColumn(
        "__cpos", _cms_pos(digest_col, _cms_hex_chars(est_rows)))
    if est_rows <= _CMS_MATERIALIZE_MAX_ROWS:
        tagged = tagged.localCheckpoint(eager=True)
    hot = (tagged.groupBy("__cpos")
                 .agg(F.count(F.lit(1)).alias("__hot"))
                 .where(F.col("__hot") >= 2))  # occupied->=2 cells only
    return tagged.join(F.broadcast(hot), "__cpos", "left")


def _word8_grams(docs: DataFrame) -> DataFrame:
    """B64's gram builder (kept inline there to leave the verified
    query untouched): per-doc DISTINCT md5 digests of word 8-grams."""
    w = F.split(F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " ")),
                r"\s+")
    toks = docs.select("doc_id", "source", w.alias("t"))
    n = F.size("t")
    return (toks.where(n >= 8)
                .select("doc_id", "source",
                        F.explode(F.array_distinct(F.transform(
                            F.sequence(F.lit(0), n - 8),
                            lambda i: F.md5(F.concat_ws(
                                " ", F.slice("t", i + 1, 8)))))).alias("g")))


def cms_prefilter_stats(spark: SparkSession, sf_dir: str,
                        kind: str = "grams") -> DataFrame:
    """Instrumentation for the counting-filter twins (NOT a registered
    query — test/stress evidence only): one row with the chosen cell
    width, tagged-row count, provably-unique (cold) rows and fraction,
    and the hot-cell broadcast size. ``cold_fraction`` is the twins'
    pruning power — the non-saturation assertion (cold_fraction > 0 in
    the unique-heavy regime) lives on this output in
    tests/test_round6.py and the SCALE.md stress ledger."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    if kind == "grams":
        frame, col, est = (_word8_grams(docs), "g",
                           n_docs * _CMS_GRAMS_PER_DOC)
    else:
        from ..operators import text as text_ops
        frame, col, est = (text_ops.chunk_tokens(docs, size=3, stride=3)
                           .select("doc_id", "chunk_md5"),
                           "chunk_md5", n_docs * _CMS_CHUNKS_PER_DOC)
    j = _cms_split(frame, col, est)
    agg = j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("__hot").isNull().cast("long")).alias("n_cold"),
        F.countDistinct(F.when(F.col("__hot").isNotNull(),
                               F.col("__cpos"))).alias("n_hot_cells"))
    return agg.select(
        F.lit(_cms_hex_chars(est)).alias("hex_chars"),
        "n_rows", "n_cold",
        F.round(F.col("n_cold") / F.col("n_rows").cast("double"), 4)
         .alias("cold_fraction"),
        "n_hot_cells")


def gram_novelty_bloom_by_source(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grams = _word8_grams(docs)
    j = _cms_split(grams, "g", docs.count() * _CMS_GRAMS_PER_DOC)
    # definitely-unique grams: one row corpus-wide — count rows per
    # source, no digest shuffle
    du = (j.where(F.col("__hot").isNull())
           .groupBy("source").agg(F.count(F.lit(1)).alias("n_du")))
    # candidates: the exact B64 machinery, restricted to survivors
    gs = (j.where(F.col("__hot").isNotNull())
           .groupBy("g", "source")
           .agg(F.countDistinct("doc_id").alias("nd"))
           .localCheckpoint(eager=True))
    stats_g = gs.groupBy("g").agg(F.sum("nd").alias("n_docs"),
                                  F.min("source").alias("one_source"))
    per_cand = gs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_cand_grams"))
    uniq_cand = (stats_g.where(F.col("n_docs") == 1)
                        .groupBy(F.col("one_source").alias("source"))
                        .agg(F.count(F.lit(1)).alias("n_uniq_cand")))
    nd = (per_cand.join(du, "source", "full")
                  .join(uniq_cand, "source", "full")
                  .select("source",
                          (F.coalesce("n_du", F.lit(0))
                           + F.coalesce("n_cand_grams", F.lit(0)))
                          .alias("n_distinct_grams"),
                          (F.coalesce("n_du", F.lit(0))
                           + F.coalesce("n_uniq_cand", F.lit(0)))
                          .alias("n_unique_grams")))
    return (nd.select("source", "n_distinct_grams", "n_unique_grams",
                      F.round(F.col("n_unique_grams")
                              / F.col("n_distinct_grams").cast("double"), 6)
                       .alias("novelty_rate"))
              .orderBy("source"))


#: oracle = the exact one-pass B64 SQL: the twin's output is equal BY
#: THEOREM (zero false negatives + exact candidate pass), and the
#: driver hash-match checks exactly that
GRAM_NOVELTY_BLOOM_SQL = GRAM_NOVELTY_SQL


# --------------------------------------------------------------------------
# B43b. Counting-filter-prefiltered duplicate passages (100 TB path
# for B43 — VERDICT r04 #7): B43 shuffles EVERY chunk digest to find
# repeated passages; at 100 TB that shuffle is O(chunks) while true
# duplicates are rare. Same split as B64b: one bounded corpus-sized
# cell count (map-side-combined, state O(cells)); a chunk occurring >= 2
# times always lands in a hot cell, so cold-cell chunks drop BEFORE
# the digest shuffle and only candidates feed B43's exact aggregate.
# Output identical to B43 => oracle is B43's SQL (the lossless-
# prefilter theorem, driver-verified). Cell space scales with the
# corpus at production size; two scans, no O(corpus) materialization.
# --------------------------------------------------------------------------

def duplicate_chunks_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ch = (text_ops.chunk_tokens(docs, size=3, stride=3)
          .select("doc_id", "chunk_md5"))
    cand = (_cms_split(ch, "chunk_md5",
                       docs.count() * _CMS_CHUNKS_PER_DOC)
            .where(F.col("__hot").isNotNull()))
    return (cand.groupBy("chunk_md5")
                .agg(F.count(F.lit(1)).alias("n_total"),
                     F.countDistinct("doc_id").alias("n_docs"),
                     F.min("doc_id").alias("first_doc"))
                .where(F.col("n_docs") > 1)
                .orderBy(F.col("n_total").desc(), F.col("chunk_md5").asc())
                .limit(50))


DUPLICATE_CHUNKS_BLOOM_SQL = DUPLICATE_CHUNKS_SQL


# --------------------------------------------------------------------------
# Registry entries: key -> (builder, DuckDB oracle SQL). The package
# __init__ merges every module's QUERIES into REGISTRY; a new query is
# added here, next to its builder.
# --------------------------------------------------------------------------

QUERIES = {
    "gram_novelty_by_source": (gram_novelty_by_source, GRAM_NOVELTY_SQL),
    "boilerplate_prefix_by_source": (boilerplate_prefix_by_source,
                                     BOILERPLATE_PREFIX_SQL),
    "charset_profile_by_source": (charset_profile_by_source,
                                  CHARSET_PROFILE_SQL),
    "token_packing_stats": (token_packing_stats, TOKEN_PACKING_SQL),
    "source_mixture_weights": (source_mixture_weights, SOURCE_MIXTURE_SQL),
    "padding_waste_by_bucket": (padding_waste_by_bucket,
                                PADDING_WASTE_SQL),
    "source_diversity": (source_diversity, SOURCE_DIVERSITY_SQL),
    "ann_truncation_recall": (ann_truncation_recall, ANN_TRUNCATION_SQL),
    "bigram_ppl_by_source": (bigram_ppl_by_source, BIGRAM_PPL_SQL),
    "embedding_isotropy": (embedding_isotropy, EMB_ISOTROPY_SQL),
    "vocab_coverage_topk": (vocab_coverage_topk, VOCAB_COVERAGE_SQL),
    "cross_source_duplication": (cross_source_duplication,
                                 CROSS_SOURCE_DUP_SQL),
    "char_entropy_by_source": (char_entropy_by_source, CHAR_ENTROPY_SQL),
    "dedup_savings_by_source": (dedup_savings_by_source,
                                DEDUP_SAVINGS_SQL),
    "contamination_profile": (contamination_profile, CONTAM_PROFILE_SQL),
    "langid_confusion": (langid_confusion, LANGID_CONFUSION_SQL),
    "embedding_effective_rank": (embedding_effective_rank,
                                 EFFECTIVE_RANK_SQL),
    "source_js_matrix": (source_js_matrix, SOURCE_JS_MATRIX_SQL),
    "label_cohesion_embeddings": (label_cohesion_embeddings,
                                  LABEL_COHESION_SQL),
    "dedup_threshold_curve": (dedup_threshold_curve, DEDUP_CURVE_SQL),
    "dup_cluster_size_histogram": (dup_cluster_size_histogram,
                                   DUP_SIZE_HIST_SQL),
    # round-5 CMS-prefilter twins for the gram-shuffle family
    # (VERDICT r04 #7 — lossless two-pass, oracle = the exact SQL)
    "gram_novelty_bloom_by_source": (gram_novelty_bloom_by_source,
                                     GRAM_NOVELTY_BLOOM_SQL),
    "duplicate_chunks_bloom": (duplicate_chunks_bloom,
                               DUPLICATE_CHUNKS_BLOOM_SQL),
}
