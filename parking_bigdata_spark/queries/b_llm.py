"""Query registry — b_llm module: LLM-data operators (dedup,
similarity, text quality, language ID, multimodal), event windows and
basket-graph queries. The ``QUERIES`` dict at the end pairs every
builder here with its DuckDB oracle."""


from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # noqa: F401 — resolves pandas-UDF type hints under
                     # postponed annotation evaluation

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import oracles
from ..io import clean_sentinel_numeric, load_table
from ..operators import clean, features, ml, profile, stats, temporal
from ..operators import dedup as dedup_ops
from ..operators import trees as trees_ops
from ..operators import similarity as sim_ops
from ..operators import text as text_ops

from itertools import combinations as _combos
from .a_core import (  # noqa: E501
    _basket_pair_counts,
    _expected_sql,
    _order_brands,
    _per_order_brand_sets,
)



def _mean_support_edges(pc: DataFrame) -> DataFrame:
    """Edges above the mean pair support — the SF-robust graph
    threshold shared by the triangle and BFS queries. Mean = S/n is an
    exact double, so the cut is engine-stable."""
    thr = pc.agg(F.avg("n_ab").alias("__thr"))
    return (pc.crossJoin(F.broadcast(thr))
              .where(F.col("n_ab") > F.col("__thr"))
              .select("a", "b"))


# --------------------------------------------------------------------------
# B12. Event-time tumbling window aggregation (batch form of the
# Structured Streaming pipeline in streaming/events.py).
# --------------------------------------------------------------------------

def events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.round(F.sum("value"), 4).alias("sum_value"))
              .select(F.col("w.start").alias("wstart"), "event_type",
                      "n_events", "sum_value"))

EVENTS_WINDOW_SQL = """
SELECT date_trunc('hour', ts) AS wstart, event_type,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# B11f-batch. Stream-stream interval join, batch twin (VERDICT r02
# ask #8): this registered query calls the SAME
# `view_purchase_attribution` builder the streaming pipeline runs —
# watermarks are no-ops on static frames, so one code path serves
# both engines and the DuckDB oracle value-checks the streaming
# operator's join semantics (the unit test additionally asserts the
# drained stream equals this batch result row-for-row).
# --------------------------------------------------------------------------

def stream_interval_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import view_purchase_attribution
    ev = load_table(spark, sf_dir, "events")
    return view_purchase_attribution(
        ev.where(F.col("event_type") == "view"),
        ev.where(F.col("event_type") == "purchase"))

STREAM_INTERVAL_JOIN_SQL = """
WITH v AS (
  SELECT user_id AS v_user, event_id AS view_id, ts AS view_ts
  FROM events WHERE event_type = 'view'
), p AS (
  SELECT user_id AS p_user, event_id AS purchase_id, ts AS purchase_ts,
         value AS purchase_value
  FROM events WHERE event_type = 'purchase'
)
SELECT p_user AS user_id, view_id, purchase_id, view_ts, purchase_ts,
       purchase_value
FROM v JOIN p
  ON v_user = p_user
 AND purchase_ts >= view_ts
 AND purchase_ts <= view_ts + INTERVAL 1 HOUR
"""


# --------------------------------------------------------------------------
# B11h-batch. Native session windows, batch twin (VERDICT r03 #5):
# calls the SAME `session_window_counts` builder the streaming
# pipeline runs (`F.session_window` merges a user's events within the
# 30-min gap into one dynamically-sized window; the watermark is a
# no-op on static input), so the driver's DuckDB oracle value-checks
# the engine's session merge/gap semantics — a new event at EXACTLY
# last_ts + gap starts a new session (end-exclusive window), which the
# oracle's `>= gap` island break reproduces. At scale this is one
# shuffle on user_id with engine-managed merge state.
# --------------------------------------------------------------------------

def stream_session_windows_batch(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from ..streaming.events import session_window_counts
    return session_window_counts(load_table(spark, sf_dir, "events"))

STREAM_SESSION_WINDOWS_SQL = """
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                      >= 1800 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
)
SELECT user_id,
       epoch_us(min(ts)) AS sess_start_us,
       epoch_us(max(ts)) + 1800 * 1000000 AS sess_end_us,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM s GROUP BY user_id, sid
"""


# --------------------------------------------------------------------------
# B11c-batch. Streaming hopping windows, batch twin (VERDICT r03 #5):
# calls the SAME `windowed_counts` builder with a 30-min slide — every
# event fans out to exactly 2 of the 1-hour windows. The oracle
# reproduces the fan-out with an explicit 2-offset unnest over the
# slide-aligned bucket index (the C10 technique). Map-side combined
# 2× fan-out, one shuffle, window-count-bounded output.
# --------------------------------------------------------------------------

def stream_hopping_windows_batch(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from ..streaming.events import windowed_counts
    return windowed_counts(load_table(spark, sf_dir, "events"),
                           window="1 hour", slide="30 minutes")

STREAM_HOPPING_WINDOWS_SQL = """
WITH x AS (
  SELECT event_type, value, epoch_us(ts) // 1800000000 AS k
  FROM events
), ex AS (
  SELECT event_type, value,
         make_timestamp((k - i) * 1800000000) AS wstart
  FROM x CROSS JOIN (SELECT unnest([0, 1]) AS i)
)
SELECT wstart, event_type,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM ex GROUP BY wstart, event_type
"""


# --------------------------------------------------------------------------
# B13. Gap-based sessionization (30-min inactivity).
# --------------------------------------------------------------------------

def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn("sess_id",
                         F.sum(new_sess).over(
                             w.rowsBetween(Window.unboundedPreceding, 0)))
    return (sess.groupBy("user_id")
                .agg(F.max("sess_id").alias("n_sessions"),
                     F.count(F.lit(1)).alias("n_events")))

SESSIONS_SQL = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM g
)
SELECT user_id, CAST(max(sess_id) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM s GROUP BY user_id
"""


# --------------------------------------------------------------------------
# B1. Exact dedup (hash-groupBy on normalized-text digest).
# --------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.exact_dedup_groups(load_table(spark, sf_dir, "documents"))

DEDUP_EXACT_SQL = """
SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS text_hash,
       min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


# --------------------------------------------------------------------------
# B2/B3. MinHash-LSH candidate pairs and SimHash signatures — hash
# pipelines are engine-specific (xxhash64), so these take the driver's
# rows-only check.
# --------------------------------------------------------------------------

def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.minhash_lsh_pairs(docs, n_perm=32, band_size=4)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.simhash(docs)


# --------------------------------------------------------------------------
# B4. N-gram Jaccard similarity on candidate pairs (bounded per source).
# --------------------------------------------------------------------------

def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.ngram_jaccard_pairs(docs, group_col="source",
                                         ngram=3, threshold=0.05)

NGRAM_JACCARD_SQL = """
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
)
SELECT doc_id_a, doc_id_b, n_inter,
       round(n_inter / (len(ga.g) + len(gb.g) - n_inter), 4) AS jaccard
FROM inter
JOIN grams ga ON ga.doc_id = doc_id_a
JOIN grams gb ON gb.doc_id = doc_id_b
WHERE n_inter / (len(ga.g) + len(gb.g) - n_inter) >= 0.05
"""


# --------------------------------------------------------------------------
# B5. Brute-force cosine top-k against a broadcast query set.
# --------------------------------------------------------------------------

def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.cosine_topk(emb, emb.where(F.col("vec_id") < 10), k=5)

COSINE_TOPK_SQL = """
WITH q AS (
  -- zero-norm vectors are excluded from scoring on BOTH sides
  -- (mirrors similarity._unit_nonzero: cosine undefined)
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
  WHERE vec_id < 10 AND list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[]) > 0
), scored AS (
  SELECT q.query_id, c.vec_id AS cand_id,
         round(list_dot_product(q.qv, c.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(q.qv, q.qv)) *
                sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 4) AS score
  FROM q CROSS JOIN embeddings c
  WHERE c.vec_id <> q.query_id
    AND list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]) > 0
), ranked AS (
  SELECT query_id, cand_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS INT) AS rank
  FROM scored
)
SELECT query_id, cand_id, score, rank FROM ranked WHERE rank <= 5
"""


def _hyperplane_bucket_sql(n_planes: int, dim: int, seed: int,
                           vec: str = "e") -> str:
    """DuckDB expression computing the SAME hyperplane-LSH bucket id as
    ``similarity.hyperplane_bucket_expr``: the plane matrix comes from
    the identical fixed-seed generator and is emitted as exact
    round-trip double literals, so both engines bucket identically
    (modulo a sign flip on a dot product within ~1e-15 of zero —
    never observed on the float-valued embedding corpus)."""
    import numpy as np
    rng = np.random.RandomState(seed)
    planes = rng.randn(n_planes, dim)
    bits = [
        "(list_dot_product({v}, [{lits}]) > 0)::INT * {w}".format(
            v=vec, w=1 << i,
            lits=", ".join(repr(float(x)) for x in planes[i]))
        for i in range(n_planes)
    ]
    return "(" + "\n   + ".join(bits) + ")"


# --------------------------------------------------------------------------
# B6. LSH-bucketed ANN (fixed-seed hyperplanes). The hyperplanes are
# plan literals, so the DuckDB oracle rebuilds the exact buckets from
# the same constants — a full value-level check, not rows-only.
# --------------------------------------------------------------------------

def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.ann_lsh_topk(emb, emb.where(F.col("vec_id") < 10),
                                k=3, n_planes=8)

ANN_LSH_SQL = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), b AS (
  SELECT vec_id, e, {_hyperplane_bucket_sql(8, 64, 42)} AS bucket FROM v
), q AS (
  -- zero-norm exclusion mirrors similarity.ann_lsh_topk's score filter
  SELECT vec_id AS query_id, e AS qv, bucket FROM b
  WHERE vec_id < 10 AND list_dot_product(e, e) > 0
), scored AS (
  SELECT q.query_id, c.vec_id AS cand_id,
         round(list_dot_product(q.qv, c.e) /
               (sqrt(list_dot_product(q.qv, q.qv)) *
                sqrt(list_dot_product(c.e, c.e))), 4) AS score
  FROM b c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.query_id
  WHERE list_dot_product(c.e, c.e) > 0
), ranked AS (
  SELECT query_id, cand_id, score,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, cand_id) AS INT) AS rank
  FROM scored
)
SELECT query_id, cand_id, score, rank FROM ranked WHERE rank <= 3
"""


# --------------------------------------------------------------------------
# B6b. IVF ANN (k-means coarse quantizer + nprobe cells) — rows-only.
# --------------------------------------------------------------------------

def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.ivf_topk(emb, emb.where(F.col("vec_id") < 10),
                            k=5, n_cells=8, nprobe=3)


# --------------------------------------------------------------------------
# B5b. Embedding-cosine near-duplicate pairs, LSH-bucketed (VERDICT r01
# "what's wrong" #1: the exact-kernel form collected the whole corpus
# to the driver). Semantics now: pairs that share ≥1 of 4 banded
# hyperplane tables' buckets AND have cosine ≥ threshold — candidate
# generation is bounded per bucket (~n/2^8), the GEMM runs within
# buckets, nothing is driver-side. The oracle rebuilds the exact
# buckets from the same plane literals, so this stays a full
# value-level check.
# --------------------------------------------------------------------------

def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.embedding_near_dup_pairs_lsh(
        emb, threshold=0.4, n_tables=4, n_planes=8)

_DE_TABLES = "\n  UNION ALL\n".join(
    f"  SELECT vec_id, e, {t} AS t,\n"
    f"  {_hyperplane_bucket_sql(8, 64, 42 + t)} AS bucket FROM v"
    for t in range(4))

DEDUP_EMBEDDING_SQL = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
), b AS (
{_DE_TABLES}
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
  FROM b a JOIN b b2 ON a.t = b2.t AND a.bucket = b2.bucket
                    AND a.vec_id < b2.vec_id
), p AS (
  SELECT c.id_a, c.id_b,
         round(list_dot_product(x.e, y.e) /
               (sqrt(list_dot_product(x.e, x.e)) *
                sqrt(list_dot_product(y.e, y.e))), 4) AS cosine
  FROM cand c JOIN v x ON x.vec_id = c.id_a JOIN v y ON y.vec_id = c.id_b
)
SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.4
"""


# --------------------------------------------------------------------------
# B7. Language ID heuristic.
# --------------------------------------------------------------------------

def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.lang_id(docs).select("doc_id", "pred_lang")

_LANGID_HITS_SQL = ",\n".join(
    "len(regexp_extract_all(lower(text), '\\b(" + "|".join(words) + ")\\b')) AS hits_" + lang
    for lang, words in text_ops.LANG_STOPWORDS.items())
_LANGID_BEST = "greatest(" + ", ".join(
    f"hits_{lang}" for lang in text_ops.LANG_STOPWORDS) + ")"
_LANGID_PRED = "CASE " + " ".join(
    f"WHEN hits_{lang} = {_LANGID_BEST} AND {_LANGID_BEST} > 0 THEN '{lang}'"
    for lang in text_ops.LANG_STOPWORDS) + " ELSE 'unknown' END"
TEXT_LANGID_SQL = f"""
WITH h AS (
  SELECT doc_id, {_LANGID_HITS_SQL}
  FROM documents
)
SELECT doc_id, {_LANGID_PRED} AS pred_lang FROM h
"""


# --------------------------------------------------------------------------
# B8. Text quality scoring.
# --------------------------------------------------------------------------

def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.quality_score(docs).select(
        "doc_id", "n_chars_txt", "n_words", "avg_word_len",
        "punct_ratio", "stop_ratio", "quality_score")

TEXT_QUALITY_SQL = r"""
WITH f AS (
  SELECT doc_id,
         CAST(length(text) AS INT) AS n_chars_txt,
         CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_words,
         len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
         len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|is|in|that|it|for)\b')) AS n_stop
  FROM documents
)
SELECT doc_id, n_chars_txt, n_words,
       round(CAST(n_chars_txt - n_words + 1 AS DOUBLE) / n_words, 4) AS avg_word_len,
       round(CAST(n_punct AS DOUBLE) / greatest(n_chars_txt, 1), 4) AS punct_ratio,
       round(CAST(n_stop AS DOUBLE) / greatest(n_words, 1), 4) AS stop_ratio,
       round(least(n_words / 100.0, 1.0) * 0.4
             + (CAST(n_stop AS DOUBLE) / greatest(n_words, 1)) * 0.4
             + (1 - CAST(n_punct AS DOUBLE) / greatest(n_chars_txt, 1)) * 0.2, 4) AS quality_score
FROM f
"""


# --------------------------------------------------------------------------
# B9. Token counting.
# --------------------------------------------------------------------------

def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.token_counts(docs).select("doc_id", "ws_tokens", "bpe_tokens")

TOKEN_COUNT_SQL = r"""
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS INT) AS bpe_tokens
FROM documents
"""


# --------------------------------------------------------------------------
# B10. Document fingerprint.
# --------------------------------------------------------------------------

def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.fingerprint(docs).select("doc_id", "fingerprint")

DOC_FINGERPRINT_SQL = """
SELECT doc_id,
       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
FROM documents
"""


# --------------------------------------------------------------------------
# B18. Repetition signals (Gopher quality filters): duplicate-word ratio
# and top-bigram fraction per document. The bigram mode is computed by
# explode → two-level agg (linear, distributed) — never a per-doc O(n²)
# array scan, which would blow up on long documents at 100 TB.
# --------------------------------------------------------------------------

def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = (text_ops.repetition_signals(docs)
            .select("doc_id", "dup_word_ratio", "__bigrams"))
    grams = (base.select("doc_id", "dup_word_ratio",
                         F.explode_outer("__bigrams").alias("bigram"))
                 .where(F.col("bigram").isNotNull()))
    counts = grams.groupBy("doc_id", "dup_word_ratio", "bigram").count()
    # dup_word_ratio is functionally dependent on doc_id — carrying it
    # as a grouping key avoids a join back to the base table.
    return (counts.groupBy("doc_id", "dup_word_ratio")
            .agg((F.max("count").cast("double")
                  / F.sum("count").cast("double")).alias("__r"))
            .select("doc_id",
                    F.round("dup_word_ratio", 4).alias("dup_word_ratio"),
                    F.round("__r", 4).alias("top_bigram_ratio")))

TEXT_REPETITION_SQL = r"""
WITH base AS (
  SELECT doc_id,
         string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS words
  FROM documents
), sig AS (
  SELECT doc_id, words,
         1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS dup_word_ratio
  FROM base
), grams AS (
  SELECT doc_id, dup_word_ratio,
         unnest(CASE WHEN len(words) >= 2
                THEN list_transform(range(1, len(words)),
                                    i -> words[i] || ' ' || words[i + 1])
                ELSE CAST([] AS VARCHAR[]) END) AS bigram
  FROM sig
), counts AS (
  SELECT doc_id, dup_word_ratio, bigram, count(*) AS c
  FROM grams GROUP BY doc_id, dup_word_ratio, bigram
)
SELECT doc_id,
       round(dup_word_ratio, 4) AS dup_word_ratio,
       round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 4) AS top_bigram_ratio
FROM counts GROUP BY doc_id, dup_word_ratio
"""


# --------------------------------------------------------------------------
# B19. PII redaction: mask emails/phones, count hits, fingerprint the
# scrubbed text. Counts are 0 on the synthetic corpus (no PII in the
# generator) — the redaction semantics themselves are unit-tested on
# adversarial synthetic strings in tests/test_text_ops.py.
# --------------------------------------------------------------------------

def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    red = text_ops.pii_redact(docs)
    return red.select(
        "doc_id", "n_emails", "n_phones",
        F.md5(F.col("redacted").cast("binary")).alias("redacted_md5"))

PII_REDACTION_SQL = rf"""
WITH r AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{text_ops.EMAIL_RE}')) AS n_emails,
         regexp_replace(text, '{text_ops.EMAIL_RE}', '<EMAIL>', 'g') AS masked
  FROM documents
)
SELECT doc_id,
       CAST(n_emails AS INT) AS n_emails,
       CAST(len(regexp_extract_all(masked, '{text_ops.PHONE_RE}')) AS INT) AS n_phones,
       md5(regexp_replace(masked, '{text_ops.PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
FROM r
"""


# --------------------------------------------------------------------------
# B20. Corpus quality funnel per source: how many documents survive each
# filter gate (length band, stopword floor, repetition ceiling) — the
# per-shard acceptance report every cleaning pipeline emits. Gates
# compare UNROUNDED doubles (identical IEEE arithmetic both engines);
# outputs are integer counts, bit-exact by construction. Single shuffle.
# --------------------------------------------------------------------------

def quality_funnel_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    n_chars = F.length(t)
    n_words = F.size(F.split(F.trim(t), r"\s+"))
    n_stop = F.regexp_count(
        F.lower(t), F.lit(r"\b(the|a|of|to|and|is|in|that|it|for)\b"))
    stop_ratio = n_stop.cast("double") / F.greatest(n_words, F.lit(1))
    words = F.split(F.lower(F.trim(F.regexp_replace(t, r"\s+", " "))), " ")
    dup_ratio = (F.lit(1.0) - F.size(F.array_distinct(words)).cast("double")
                 / F.size(words))
    p_len = n_chars.between(100, 10000)
    p_stop = stop_ratio >= 0.01
    p_dup = dup_ratio <= 0.6
    flags = docs.select(
        "source",
        p_len.cast("long").alias("f_len"),
        p_stop.cast("long").alias("f_stop"),
        p_dup.cast("long").alias("f_dup"),
        (p_len & p_stop & p_dup).cast("long").alias("f_all"))
    return (flags.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("f_len").alias("pass_len"),
                 F.sum("f_stop").alias("pass_stop"),
                 F.sum("f_dup").alias("pass_dup"),
                 F.sum("f_all").alias("pass_all")))

QUALITY_FUNNEL_SQL = r"""
WITH f AS (
  SELECT source,
         length(text) AS n_chars,
         len(string_split_regex(trim(text), '\s+')) AS n_words,
         len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|is|in|that|it|for)\b')) AS n_stop,
         string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS words
  FROM documents
), g AS (
  SELECT source,
         (n_chars BETWEEN 100 AND 10000) AS p_len,
         (CAST(n_stop AS DOUBLE) / greatest(n_words, 1) >= 0.01) AS p_stop,
         (1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / len(words) <= 0.6) AS p_dup
  FROM f
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN p_len THEN 1 ELSE 0 END) AS BIGINT) AS pass_len,
       CAST(sum(CASE WHEN p_stop THEN 1 ELSE 0 END) AS BIGINT) AS pass_stop,
       CAST(sum(CASE WHEN p_dup THEN 1 ELSE 0 END) AS BIGINT) AS pass_dup,
       CAST(sum(CASE WHEN p_len AND p_stop AND p_dup THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
FROM g GROUP BY source
"""


# --------------------------------------------------------------------------
# B21. Percentile length filter per language: p05/p95 length bounds per
# lang, then count the surviving documents. Exact percentile here (sorts
# within group); at 100 TB swap `percentile` → `approx_percentile` —
# the query shape (tiny bounds agg, broadcast join back so the corpus
# side never shuffles) is the scale design.
# --------------------------------------------------------------------------

def length_filter_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # one pruned scan of the narrow (lang, length) projection,
    # materialized: the bracket-refine branches + doc counts + the
    # filter pass otherwise re-scan the corpus parquet ~11x
    proj = (docs.select("lang", F.col("n_chars").cast("double").alias("ncd"))
                .localCheckpoint(eager=True))
    # exact length percentiles via bracket-refine (per-lang doc counts
    # are corpus-scale; a per-group sort buffer would not be)
    qb = stats.grouped_quantiles(proj, "lang", "ncd",
                                 [0.05, 0.95], ["p05", "p95"])
    bounds = (proj.groupBy("lang").agg(F.count("*").alias("n_docs"))
                  .join(F.broadcast(qb), "lang"))
    kept = (proj.join(F.broadcast(bounds.select("lang", "p05", "p95")), "lang")
                .where((F.col("ncd") >= F.col("p05"))
                       & (F.col("ncd") <= F.col("p95")))
                .groupBy("lang").agg(F.count("*").alias("n_kept")))
    return (bounds.join(kept, "lang")
            .select("lang",
                    F.round("p05", 4).alias("p05"),
                    F.round("p95", 4).alias("p95"),
                    "n_docs", "n_kept"))

LENGTH_FILTER_SQL = """
WITH b AS (
  SELECT lang,
         quantile_cont(CAST(n_chars AS DOUBLE), 0.05) AS p05,
         quantile_cont(CAST(n_chars AS DOUBLE), 0.95) AS p95,
         count(*) AS n_docs
  FROM documents GROUP BY lang
), s AS (
  SELECT d.lang, count(*) AS n_kept
  FROM documents d JOIN b ON d.lang = b.lang
  WHERE d.n_chars >= b.p05 AND d.n_chars <= b.p95
  GROUP BY d.lang
)
SELECT b.lang, round(p05, 4) AS p05, round(p95, 4) AS p95, n_docs, n_kept
FROM b JOIN s ON b.lang = s.lang
"""


# --------------------------------------------------------------------------
# B1b. Exact dedup, keep-BEST variant: retain the longest replica per
# fingerprint group (ties → lowest doc_id) instead of the minimum id —
# the retention policy real pipelines use ("keep the highest-quality
# copy"). One shuffle on the fingerprint hash; exact-dup groups are
# small so the window partition never skews.
# --------------------------------------------------------------------------

def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = text_ops.fingerprint(docs).select("doc_id", "n_chars", "fingerprint")
    w = Window.partitionBy("fingerprint").orderBy(
        F.col("n_chars").desc(), F.col("doc_id"))
    return (fp.withColumn("rn", F.row_number().over(w))
              .withColumn("group_size",
                          F.count("*").over(Window.partitionBy("fingerprint")))
              .where(F.col("rn") == 1)
              .select("fingerprint",
                      F.col("doc_id").alias("kept_doc_id"),
                      "group_size"))

DEDUP_KEEP_BEST_SQL = r"""
WITH fp AS (
  SELECT doc_id, n_chars,
         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
  FROM documents
), r AS (
  SELECT fingerprint, doc_id, n_chars,
         row_number() OVER (PARTITION BY fingerprint
                            ORDER BY n_chars DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY fingerprint) AS group_size
  FROM fp
)
SELECT fingerprint, doc_id AS kept_doc_id, CAST(group_size AS BIGINT) AS group_size
FROM r WHERE rn = 1
"""


# --------------------------------------------------------------------------
# B10b. Winnowing fingerprint overlap: documents sharing any rolling-hash
# fingerprint (partial-copy candidates). Hash internals are
# engine-specific → rows-only.
# --------------------------------------------------------------------------

def winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fps = text_ops.winnow_fingerprints(docs, k=8, window=4)
    # explode_outer + null-filter is deliberate (NOT equivalent to plain
    # explode here): explode would trigger InferFiltersFromGenerate,
    # which clones the whole winnow expression into a pushed-down
    # size()>0 filter — re-hashing every k-gram a second time per row.
    g = (fps.select("doc_id", "source",
                    F.explode_outer("winnow_fps").alias("fp"))
            .where(F.col("fp").isNotNull()))
    a = g.select(F.col("doc_id").alias("id_a"), "source", "fp")
    b = g.select(F.col("doc_id").alias("id_b"), "source", "fp")
    return (a.join(b, ["source", "fp"])
             .where(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("shared_fps"))
             .where(F.col("shared_fps") >= 20))


# --------------------------------------------------------------------------
# B14. End-to-end corpus cleaning pipeline: quality filter → exact dedup
# → canonical survivors. The composition the LLM-data story is about —
# and still one declarative plan Catalyst optimizes as a whole.
# --------------------------------------------------------------------------

def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = text_ops.quality_score(docs)
    fp = text_ops.fingerprint(scored)
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (fp.where(F.col("n_words") >= 30)
              .withColumn("rk", F.row_number().over(w))
              .where(F.col("rk") == 1)
              .select("doc_id", "n_words", "quality_score"))

PIPELINE_CLEAN_SQL = r"""
WITH q AS (
  SELECT doc_id, text,
         CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_words,
         len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
         len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|is|in|that|it|for)\b')) AS n_stop,
         CAST(length(text) AS INT) AS n_chars_txt
  FROM documents
), f AS (
  SELECT doc_id, n_words,
         round(least(n_words / 100.0, 1.0) * 0.4
               + (CAST(n_stop AS DOUBLE) / greatest(n_words, 1)) * 0.4
               + (1 - CAST(n_punct AS DOUBLE) / greatest(n_chars_txt, 1)) * 0.2, 4) AS quality_score,
         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
  FROM q
  WHERE n_words >= 30
), r AS (
  SELECT doc_id, n_words, quality_score,
         row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rk
  FROM f
)
SELECT doc_id, n_words, quality_score FROM r WHERE rk = 1
"""


# --------------------------------------------------------------------------
# B16. TF-IDF top terms over the corpus: tokenize once (materialized
# before the generator so the regex runs once per doc — see
# InferFiltersFromGenerate note in dedup), explode, then a single
# groupBy computes tf and df together. N (total docs) comes from a
# 1-row broadcast agg, not a driver collect. Selection is by the
# integer (tf, term) total order, so top-k is engine-deterministic;
# the transcendental idf score is carried as a rounded output column.
# --------------------------------------------------------------------------

def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " ")),
            r"\s+").alias("toks"))
    terms = (toks.select("doc_id", F.explode_outer("toks").alias("term"))
                 .where(F.col("term").isNotNull()
                        & (F.length("term") >= 2)))
    stats = terms.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"))
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (stats.crossJoin(F.broadcast(total))
              .select(
                  "term", "tf", "df",
                  (F.floor(F.col("tf")
                           * F.log(F.col("n_docs") / F.col("df"))
                           * 1e4 + F.lit(0.5)) / 1e4).alias("tfidf")))
    return scored.orderBy(F.col("tf").desc(), F.col("term")).limit(50)

TFIDF_SQL = """
WITH terms AS (
  SELECT doc_id, term
  FROM (
    SELECT doc_id,
           unnest(string_split_regex(
             trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
             '\\s+')) AS term
    FROM documents
  )
  WHERE term IS NOT NULL AND length(term) >= 2
), stats AS (
  SELECT term, CAST(count(*) AS BIGINT) AS tf,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM terms GROUP BY term
)
SELECT term, tf, df,
       floor(tf * ln((SELECT count(*) FROM documents) / df)
             * 1e4 + 0.5) / 1e4 AS tfidf
FROM stats
ORDER BY tf DESC, term
LIMIT 50
"""


# --------------------------------------------------------------------------
# B17. Per-label embedding centroids: posexplode the vector to
# (label, dim, val) rows and average per cell. One shuffle on
# (label, dim) — the map side partial-aggregates, so shuffle volume is
# labels x dims regardless of row count. The array->rows->array trip
# stays entirely in codegen (no Python).
# --------------------------------------------------------------------------

def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cells = (emb.select(
                 "label",
                 F.posexplode_outer("embedding").alias("dim", "val"))
             .where(F.col("val").isNotNull()))
    # + 0.0 canonicalizes IEEE -0.0 (a hair-negative mean rounds to
    # negative zero on one engine and positive on the other — observed
    # at sf0.001; a value-hash would treat them as different)
    return (cells.groupBy("label", "dim")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.round(F.avg(F.col("val").cast("double")), 4)
                  + F.lit(0.0)).alias("centroid")))

EMB_CENTROID_SQL = """
SELECT label, dim, count(*) AS n, round(avg(val), 4) + 0.0 AS centroid
FROM (
  SELECT label,
         CAST(unnest(embedding) AS DOUBLE) AS val,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings
)
WHERE val IS NOT NULL
GROUP BY label, dim
"""


# --------------------------------------------------------------------------
# B11. Multimodal pipeline end-to-end (rows-only): synthesize a binary
# asset table from documents (payload = utf-8 bytes), run the Arrow-
# batched feature-extraction kernel (decode step is a deterministic
# STUB — see operators/multimodal.py), aggregate per modality. The
# Spark-side plumbing (binary column, mapInPandas batch shape, schema)
# is the real production path; only the codec is fake.
# --------------------------------------------------------------------------

def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as mm
    docs = load_table(spark, sf_dir, "documents")
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
         .when(F.col("doc_id") % 3 == 1, "audio")
         .otherwise("video").alias("modality"),
        F.encode("text", "utf-8").alias("payload"))
    feats = mm.extract_features(assets)
    return (feats.groupBy("modality")
            .agg(F.count(F.lit(1)).alias("n_assets"),
                 F.sum("n_bytes").alias("total_bytes"),
                 F.round(F.avg(F.element_at("feature", 2)), 4)
                  .alias("avg_mean_byte")))


# --------------------------------------------------------------------------
# B22. Duplicate-cluster formation: connected components over the
# near-dup pair list (iterative min-label propagation on Spark; the
# oracle reaches the same fixpoint via a recursive CTE).
# --------------------------------------------------------------------------

def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_ops.ngram_jaccard_pairs(docs, group_col="source",
                                          ngram=3, threshold=0.05)
    return dedup_ops.connected_components(pairs, src="doc_id_a",
                                          dst="doc_id_b")

DEDUP_CLUSTERS_SQL = """
WITH RECURSIVE toks AS (
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
  SELECT a.doc_id AS u, b.doc_id AS v, count(*) AS n_inter
  FROM exploded a JOIN exploded b
    ON a.gram = b.gram AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT u, v FROM inter
  JOIN grams ga ON ga.doc_id = u
  JOIN grams gb ON gb.doc_id = v
  WHERE n_inter / (len(ga.g) + len(gb.g) - n_inter) >= 0.05
), edges AS (
  SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
), reach(node, lbl) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node
)
SELECT node, min(lbl) AS lbl FROM reach GROUP BY node
"""


# --------------------------------------------------------------------------
# B23. Benchmark decontamination: corpus docs sharing word 3-grams with
# a (deterministically sampled) eval split. The eval side is broadcast.
# --------------------------------------------------------------------------

def decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    return dedup_ops.decontaminate(corpus, eval_df, ngram=3)

DECONTAM_SQL = """
WITH toks AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), '\\s+') AS t
  FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS gram
  FROM toks
)
SELECT c.doc_id AS doc_id,
       count(DISTINCT c.gram) AS n_shared_grams,
       count(DISTINCT e.doc_id) AS n_eval_docs
FROM (SELECT * FROM grams WHERE doc_id % 20 <> 0) c
JOIN (SELECT * FROM grams WHERE doc_id % 20 = 0) e USING (gram)
GROUP BY 1
"""


# --------------------------------------------------------------------------
# B24. Collocation mining: top adjacent-word bigrams by PMI with an
# integer-deterministic (count desc, w1, w2) top-k frontier.
# --------------------------------------------------------------------------

def collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.bigram_pmi(docs, min_count=5, top_k=30)

COLLOCATION_SQL = """
WITH toks AS (
  SELECT string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), '\\s+') AS t
  FROM documents
), pairs AS (
  SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                i -> {'w1': t[i], 'w2': t[i+1]})) AS p
  FROM toks WHERE len(t) >= 2
), bg AS (
  SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS n_pair FROM pairs GROUP BY 1, 2
), unic AS (
  SELECT unnest(t) AS tok FROM toks
), uni AS (
  SELECT tok, count(*) AS n_tok FROM unic GROUP BY 1
), tot AS (
  SELECT CAST(sum(n_tok) AS BIGINT) AS n_total FROM uni
)
SELECT w1, w2, n_pair,
       round(ln(n_pair * n_total / (n_w1 * n_w2)), 4) AS pmi
FROM bg
JOIN (SELECT tok AS w1, n_tok AS n_w1 FROM uni) USING (w1)
JOIN (SELECT tok AS w2, n_tok AS n_w2 FROM uni) USING (w2)
CROSS JOIN tot
WHERE n_pair >= 5
ORDER BY n_pair DESC, w1, w2
LIMIT 30
"""


# --------------------------------------------------------------------------
# B25. Token-distribution entropy per source: H = ln N - sum(n ln n)/N
# from exact integer token counts — one ln per DISTINCT token, two
# shuffles (vocab-wide then group-wide).
# --------------------------------------------------------------------------

def token_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.token_entropy(docs, group_col="source")

TOKEN_ENTROPY_SQL = """
WITH toks AS (
  SELECT source,
         unnest(string_split_regex(trim(regexp_replace(lower(text),
                '[^a-z0-9 ]', ' ', 'g')), '\\s+')) AS tok
  FROM documents
), counts AS (
  SELECT source, tok, count(*) AS n FROM toks GROUP BY 1, 2
)
SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
       count(*) AS n_vocab,
       round(ln(CAST(sum(n) AS BIGINT))
             - sum(n * ln(n)) / CAST(sum(n) AS BIGINT), 4) AS entropy
FROM counts GROUP BY 1
"""


# --------------------------------------------------------------------------
# B26. Distribution drift per source (Population Stability Index):
# Laplace-smoothed PSI of each source's n_chars histogram against the
# corpus. One shuffle builds the (source x bucket) counts; everything
# after runs on that tiny grid (zero-filled via a cross join so absent
# buckets still contribute their smoothed term). The standard drift
# gate between two crawl snapshots of a training corpus.
# --------------------------------------------------------------------------

def psi_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cnt = (docs.select("source", F.floor(F.col("n_chars") / 50).alias("bucket"))
               .groupBy("source", "bucket")
               .agg(F.count(F.lit(1)).alias("n")))
    grid = (cnt.select("source").distinct()
               .crossJoin(cnt.select("bucket").distinct()))
    full = (grid.join(cnt, ["source", "bucket"], "left")
                .select("source", "bucket",
                        F.coalesce("n", F.lit(0)).alias("n")))
    w_src = Window.partitionBy("source")
    w_bkt = Window.partitionBy("bucket")
    w_all = Window.partitionBy()
    nb = F.count(F.lit(1)).over(w_src)            # number of buckets
    p = (F.col("n") + 1) / (F.sum("n").over(w_src) + nb)
    q = (F.sum("n").over(w_bkt) + 1) / (F.sum("n").over(w_all) + nb)
    term = (p - q) * F.log(p / q)
    return (full.select("source", F.col("n").alias("n"), term.alias("t"))
                .groupBy("source")
                .agg(F.sum("n").alias("n_docs"),
                     F.round(F.sum("t"), 4).alias("psi")))

PSI_DRIFT_SQL = """
WITH cnt AS (
  SELECT source, CAST(floor(n_chars / 50) AS BIGINT) AS bucket, count(*) AS n
  FROM documents GROUP BY 1, 2
), grid AS (
  SELECT s.source, b.bucket
  FROM (SELECT DISTINCT source FROM cnt) s
  CROSS JOIN (SELECT DISTINCT bucket FROM cnt) b
), full_grid AS (
  SELECT g.source, g.bucket, coalesce(c.n, 0) AS n
  FROM grid g LEFT JOIN cnt c ON g.source = c.source AND g.bucket = c.bucket
), terms AS (
  SELECT source, n,
         ((n + 1.0) / (sum(n) OVER (PARTITION BY source)
                       + count(*) OVER (PARTITION BY source))) AS p,
         ((sum(n) OVER (PARTITION BY bucket) + 1.0)
          / (sum(n) OVER () + count(*) OVER (PARTITION BY source))) AS q
  FROM full_grid
)
SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
       round(sum((p - q) * ln(p / q)), 4) AS psi
FROM terms GROUP BY source
"""


# --------------------------------------------------------------------------
# B27. Distributed PageRank on the symmetrized customer↔supplier
# purchase graph (weighted power iteration, fixed 3 rounds). The edge
# list persists pre-shuffled on src; every round is one shuffle-reuse
# join + one groupBy(dst) — O(edges) shuffled bytes per round,
# O(nodes) state. Oracle = the same 3 iterations unrolled as chained
# CTEs (both engines evaluate 1.0-0.85 as the identical IEEE double).
# --------------------------------------------------------------------------

def pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph as graph_ops
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
               .groupBy(F.col("o_custkey").alias("custkey"),
                        F.col("l_suppkey").alias("suppkey"))
               .agg(F.count(F.lit(1)).cast("double").alias("w")))
    return graph_ops.bipartite_pagerank_suppliers(edges, n_iter=3)

_PR_STEP = """
SELECT n.node, (1.0 - 0.85) + 0.85 * coalesce(c.in_rank, 0) AS rank
FROM nodes n LEFT JOIN (
  SELECT t.dst AS node, sum(r.rank * t.p) AS in_rank
  FROM trans t JOIN {prev} r ON t.src = r.node GROUP BY 1
) c ON n.node = c.node
"""

PAGERANK_SQL = f"""
WITH raw AS (
  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
         CAST(count(*) AS DOUBLE) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
), sym AS (
  SELECT src, dst, w FROM raw
  UNION ALL
  SELECT dst AS src, src AS dst, w FROM raw
), outw AS (
  SELECT src, sum(w) AS out_w FROM sym GROUP BY 1
), trans AS (
  SELECT s.src, s.dst, s.w / o.out_w AS p
  FROM sym s JOIN outw o ON s.src = o.src
), nodes AS (
  SELECT DISTINCT src AS node FROM sym
), r0 AS (
  SELECT node, 1.0 AS rank FROM nodes
), r1 AS ({_PR_STEP.format(prev="r0")}
), r2 AS ({_PR_STEP.format(prev="r1")}
), r3 AS ({_PR_STEP.format(prev="r2")})
SELECT CAST((node - 1) // 2 AS BIGINT) AS suppkey, round(rank, 4) AS rank
FROM r3 WHERE node % 2 = 1
"""


# --------------------------------------------------------------------------
# B28. Document chunking: overlapping fixed-size token windows (the
# context-window / embedding-input transform). Zero shuffles — pure
# projection + bounded generator; see operators/text.py:chunk_tokens
# for the sequence()/explode_outer scale notes.
# --------------------------------------------------------------------------

def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.chunk_tokens(docs, size=32, stride=16)

CHUNK_SQL = r"""
WITH base AS (
  SELECT doc_id,
         string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                      ' ') AS w
  FROM documents
), st AS (
  SELECT doc_id, w, len(w) AS n,
         unnest(generate_series(1, greatest(len(w) - 32 + 1, 1), 16)) AS s
  FROM base
)
SELECT doc_id,
       CAST(s AS INT) AS chunk_start,
       CAST(least(32, n - s + 1) AS INT) AS n_tokens,
       md5(array_to_string(list_slice(w, s, s + 31), ' ')) AS chunk_md5
FROM st
"""


# --------------------------------------------------------------------------
# B29. Unigram-LM surprisal per source: mean -ln p(token) of each doc
# under the corpus unigram distribution — the cheap perplexity-proxy
# quality score. Two tokenize passes by design (recompute beats caching
# corpus-sized token state); see operators/text.py:unigram_surprisal.
# --------------------------------------------------------------------------

def surprisal_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.unigram_surprisal(docs)

SURPRISAL_SQL = r"""
WITH toks AS (
  SELECT doc_id, source,
         unnest(string_split_regex(
             trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
             '\s+')) AS tok
  FROM documents
), freq AS (
  SELECT tok, count(*) AS n_tok FROM toks GROUP BY 1
), total AS (
  SELECT CAST(sum(n_tok) AS BIGINT) AS n_total FROM freq
), doc AS (
  SELECT t.doc_id, t.source,
         avg(-ln(CAST(f.n_tok AS DOUBLE) / n_total)) AS nll
  FROM toks t JOIN freq f USING (tok), total
  GROUP BY 1, 2
)
SELECT source,
       count(*) AS n_docs,
       round(avg(nll), 4) AS avg_surprisal,
       round(max(nll), 4) AS max_surprisal
FROM doc GROUP BY 1
"""


# --------------------------------------------------------------------------
# B30. Per-source document cap (deterministic): keep at most K docs per
# source, chosen by md5(doc_id) rank — the per-domain cap every web
# corpus applies (C4/RefinedWeb style) so one giant source can't
# dominate the training mix. One shuffle on source; the md5 order is
# engine-portable (hex compares identically) and seedless-deterministic.
# Scale: a single mega-source funnels its rows to one reducer — the
# remedy is a two-phase pre-filter (approx per-source counts → md5
# threshold applied map-side) so only ~K rows per source ever shuffle;
# the rank here is the exact final arbiter either way.
# --------------------------------------------------------------------------

def capped_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase exact top-K: a map-side md5 prefilter bounds the rows
    the per-source rank window ever sees. The 60-bit md5 prefix of a
    survivor is strictly below the per-source threshold 4K/n of the
    space, and hex ordering == numeric prefix ordering, so when ≥ K
    rows survive (P(fail) ≈ e^{-K} under md5 uniformity — never
    observed at any SF; the oracle would catch it) the global top-K by
    md5 is exactly the top-K of the survivors. Mega-sources thus ship
    ~4K rows to their rank task instead of their entire row count."""
    K = 100
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars")
    md5 = F.md5(F.col("doc_id").cast("string"))
    h = F.conv(F.substring(md5, 1, 15), 16, 10).cast("bigint")
    cnt = docs.groupBy("source").agg(F.count(F.lit(1)).alias("__n"))
    # clamp before the bigint cast: for sources with < 4K/2^3 ≈ 51 docs
    # the unclamped 2^60·4K/n exceeds BIGINT and ANSI mode would throw
    # CAST_OVERFLOW — previously saved only by Or short-circuit order
    # (ADVICE r01). Clamped, the threshold is correct and order-free.
    # clamp value 2^62: exactly representable in double, fits BIGINT,
    # and ≥ 2^60 (the h space) so a clamped threshold keeps every row
    thr = F.least(F.lit(float(2 ** 62)),
                  F.lit(float(2 ** 60)) * (4.0 * K)
                  / F.col("__n")).cast("bigint")
    pre = (docs.join(F.broadcast(cnt), "source")
               .where((F.col("__n") <= 4 * K) | (h < thr)))
    w = Window.partitionBy("source").orderBy(md5, "doc_id")
    return (pre.withColumn("sample_rank", F.row_number().over(w))
               .where(F.col("sample_rank") <= K)
               .select("source", "doc_id", "n_chars",
                       F.col("sample_rank").cast("int")
                        .alias("sample_rank")))

CAPPED_DOCS_SQL = """
WITH r AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS sample_rank
  FROM documents
)
SELECT source, doc_id, n_chars, CAST(sample_rank AS INT) AS sample_rank
FROM r WHERE sample_rank <= 100
"""


# --------------------------------------------------------------------------
# B31. Mergeable HLL sketches (Apache DataSketches via Spark 3.5+
# hll_sketch_agg): per-source distinct-document sketches that UNION to
# the corpus-wide sketch without a rescan — the canonical 100 TB
# distinct-counting pattern (sketches are tiny, associative, and
# shuffle as bytes; the exact answer would shuffle every fingerprint).
# The union row is exactly what a 1000-executor rollup would ship to a
# dashboard.
#
# Oracle contract (VERDICT r06 #3 — this was the one rows-only key
# with neither a value-level oracle nor a stable output): raw HLL
# estimates are merge-order-sensitive and engine-specific, so instead
# of EMITTING the estimate the query emits the exact countDistinct
# AUDIT column plus the in-query accuracy bound |est − exact| ≤
# 5%·exact as a boolean (DataSketches rsd at the default lgK=12 is
# ~1.6%, so 5% is a ≥3σ band; the companion unit test has held it at
# every SF since r01). DuckDB's oracle computes the same exact counts
# and asserts the bound as a TRUE literal — a sketch drifting out of
# band now FAILS the driver's value hash instead of hiding behind a
# rows-only row, and the output is deterministic (the boolean absorbs
# the sub-band merge-order wobble), so the key leaves both the
# rows-only list and the determinism scan's EXPECTED_UNSTABLE set.
# At 100 TB the exact audit columns are dropped and the sketch is the
# product; they exist here to make the contract value-checkable.
# --------------------------------------------------------------------------

def sketch_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace(F.col("text"), r"\s+", " "))
    base = docs.select("source", fp.alias("fp"))
    per_source = (base.groupBy("source")
                      .agg(F.hll_sketch_agg("fp").alias("sk"),
                           F.countDistinct("fp").alias("n_exact")))
    union_all = (per_source
                 .agg(F.hll_union_agg("sk").alias("sk"))
                 .crossJoin(F.broadcast(
                     base.agg(F.countDistinct("fp").alias("n_exact"))))
                 .select(F.lit("__all__").alias("source"), "sk", "n_exact"))
    both = (per_source.select("source", "sk", "n_exact")
                      .unionByName(union_all))
    est = F.hll_sketch_estimate("sk").cast("double")
    exact = F.col("n_exact").cast("double")
    # coalesce: an EMPTY corpus leaves the union sketch NULL (est NULL
    # => NULL boolean) while the oracle's literal is TRUE — an empty
    # corpus trivially satisfies the bound (exact = 0), so say so
    within = F.coalesce(F.abs(est - exact) <= 0.05 * exact,
                        exact == F.lit(0.0))
    return both.select(
        "source",
        F.col("n_exact").cast("long").alias("n_distinct_exact"),
        within.alias("hll_within_5pct"))

SKETCH_HLL_UNION_SQL = r"""
WITH fps AS (
  SELECT source, md5(regexp_replace(text, '\s+', ' ', 'g')) AS fp
  FROM documents
)
SELECT source, CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_exact,
       TRUE AS hll_within_5pct
FROM fps GROUP BY source
UNION ALL
SELECT '__all__' AS source,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_exact,
       TRUE AS hll_within_5pct
FROM fps
"""


# --------------------------------------------------------------------------
# B33. Zipf's-law fit over the token frequency distribution:
# weighted log-log regression of frequency on tie-averaged rank. The
# regression runs on the frequency-OF-frequency table (|distinct
# counts| rows — thousands at most even at corpus scale), with ranks
# from the range-partitioned tie_avg_ranks helper (value = −freq so
# ascending range order = descending frequency), weights = #tokens at
# that frequency. One tokenize pass; no per-token rank window.
# --------------------------------------------------------------------------

def zipf_token_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " ")),
            r"\s+").alias("toks"))
    terms = (toks.select(F.explode_outer("toks").alias("term"))
                 .where(F.col("term").isNotNull()
                        & (F.length("term") >= 2)))
    tf = terms.groupBy("term").agg(F.count(F.lit(1)).alias("f"))
    # materialize the tiny frequency-of-frequency table: the rank
    # helper's lineage branches otherwise re-tokenize the corpus
    fof = (tf.groupBy(F.col("f")).agg(F.count(F.lit(1)).alias("t"))
             .select((-F.col("f")).alias("neg_f"), "t")
             .localCheckpoint(eager=True))
    ranked = (stats.tie_avg_ranks(fof, "neg_f", "t", alias="r")
              .select((-F.col("neg_f")).alias("f"), "t", "r"))
    x, y = F.log("r"), F.log("f")
    s = ranked.agg(F.sum("t").alias("sw"),
                   F.sum(F.col("t") * x).alias("swx"),
                   F.sum(F.col("t") * y).alias("swy"),
                   F.sum(F.col("t") * x * y).alias("swxy"),
                   F.sum(F.col("t") * x * x).alias("swxx"))
    slope = ((F.col("sw") * F.col("swxy") - F.col("swx") * F.col("swy"))
             / (F.col("sw") * F.col("swxx") - F.col("swx") * F.col("swx")))
    return s.select(F.col("sw").alias("n_vocab"),
                    F.round(slope, 4).alias("slope"),
                    F.round((F.col("swy") - slope * F.col("swx"))
                            / F.col("sw"), 4).alias("intercept"))

ZIPF_SQL = """
WITH terms AS (
  SELECT term
  FROM (
    SELECT unnest(string_split_regex(
             trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
             '\\s+')) AS term
    FROM documents
  )
  WHERE term IS NOT NULL AND length(term) >= 2
), tf AS (SELECT term, count(*) AS f FROM terms GROUP BY 1),
fof AS (SELECT f, count(*) AS t FROM tf GROUP BY 1),
ranked AS (
  SELECT f, t,
         sum(t) OVER (ORDER BY f DESC ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) - (t - 1) / 2.0 AS r
  FROM fof
), s AS (
  SELECT sum(t) AS sw, sum(t * ln(r)) AS swx, sum(t * ln(f)) AS swy,
         sum(t * ln(r) * ln(f)) AS swxy, sum(t * ln(r) * ln(r)) AS swxx
  FROM ranked
)
SELECT CAST(sw AS BIGINT) AS n_vocab,
       round((sw * swxy - swx * swy) / (sw * swxx - swx * swx), 4)
         AS slope,
       round((swy - ((sw * swxy - swx * swy)
                     / (sw * swxx - swx * swx)) * swx) / sw, 4)
         AS intercept
FROM s
"""


# --------------------------------------------------------------------------
# B34. Readability scoring (Flesch-ease proxy per language): words =
# whitespace tokens, sentences = terminal-punctuation runs (floored at
# 1), syllables ≈ vowel-group runs — all codegen'd regexp counts, one
# shuffle over language groups. The standard corpus-quality signal
# family next to text_quality's ratio gates.
# --------------------------------------------------------------------------

def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (load_table(spark, sf_dir, "documents")
            .where(F.length(F.trim("text")) > 0))
    w = F.size(F.split(F.trim("text"), r"\s+")).cast("double")
    s = F.greatest(F.regexp_count("text", F.lit("[.!?]+")),
                   F.lit(1)).cast("double")
    syl = F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")).cast("double")
    flesch = (F.lit(206.835) - 1.015 * (w / s) - 84.6 * (syl / w))
    return (docs.select("lang", flesch.alias("fl"), (w / s).alias("wps"))
                .groupBy("lang")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.round(F.avg("fl"), 4).alias("avg_flesch"),
                     F.round(F.avg("wps"), 4).alias("avg_words_per_sentence")))

READABILITY_SQL = """
WITH scored AS (
  SELECT lang,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS w,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
              AS DOUBLE) AS s,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
              AS DOUBLE) AS syl
  FROM documents WHERE length(trim(text)) > 0
)
SELECT lang, count(*) AS n_docs,
       round(avg(206.835 - 1.015 * (w / s) - 84.6 * (syl / w)), 4)
         AS avg_flesch,
       round(avg(w / s), 4) AS avg_words_per_sentence
FROM scored GROUP BY 1
"""


# --------------------------------------------------------------------------
# B35. approx_top_k frequent-items sketch (Spark 4 native): mergeable
# per-partition top-k state, exact when maxItemsTracked covers the
# domain (event types here) — k chosen above the domain size so no
# cutoff-tie ambiguity crosses engines. The oracle is the exact
# group-count, which the sketch must reproduce under that setting.
# --------------------------------------------------------------------------

def sketch_top_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    ev.createOrReplaceTempView("__ev_topk")
    return spark.sql("""
        SELECT t.item AS event_type, t.count AS n
        FROM (SELECT explode(approx_top_k(event_type, 10, 1000)) AS t
              FROM __ev_topk)
    """)

SKETCH_TOPK_SQL = """
SELECT event_type, count(*) AS n
FROM events WHERE ts IS NOT NULL
GROUP BY 1
"""


# --------------------------------------------------------------------------
# B36. Inverted-index build (token → bounded posting list): the search
# primitive over the document corpus. One tokenize pass, distinct
# (term, doc) pairs, then sorted posting arrays TRUNCATED to 20 docs
# (postings stay bounded regardless of term popularity — the
# heavy-hitter guard). Integer-deterministic top-50 terms by document
# frequency with term tie-break.
# --------------------------------------------------------------------------

def inverted_index_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " ")),
            r"\s+").alias("toks"))
    td = (toks.select("doc_id", F.explode_outer("toks").alias("term"))
              .where(F.col("term").isNotNull() & (F.length("term") >= 2))
              .select("term", "doc_id").distinct())
    postings = (td.groupBy("term")
                .agg(F.count(F.lit(1)).alias("df"),
                     F.array_join(
                         F.slice(F.sort_array(F.collect_list("doc_id")),
                                 1, 20), ",").alias("posting_head")))
    return (postings.orderBy(F.col("df").desc(), "term").limit(50)
            .select("term", "df", "posting_head"))

INVERTED_INDEX_SQL = """
WITH td AS (
  SELECT DISTINCT term, doc_id
  FROM (
    SELECT doc_id,
           unnest(string_split_regex(
             trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
             '\\s+')) AS term
    FROM documents
  )
  WHERE term IS NOT NULL AND length(term) >= 2
)
SELECT term, CAST(count(*) AS BIGINT) AS df,
       array_to_string(list_sort(list(doc_id))[1:20], ',')
         AS posting_head
FROM td GROUP BY term
ORDER BY df DESC, term
LIMIT 50
"""


# --------------------------------------------------------------------------
# B37. Hashing-trick document vectors (feature hashing a la
# HashingTF / Vowpal Wabbit): token -> md5 -> bucket mod 64, long-form
# (doc_id, bucket, n_tokens, tf). The bucket hash is the first md5
# byte decoded with strpos arithmetic so BOTH engines compute the
# identical bucket from the identical hex string — a fully
# SQL-expressible feature extractor (unlike xxhash64-based ops).
# Scale: explode is a narrow transform; the only shuffle is the
# (doc, bucket) aggregate. Per-doc totals ride a window over the
# exploded frame — partitions are doc-sized (bounded by document
# length), never corpus-sized.
# --------------------------------------------------------------------------

def hashed_token_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.regexp_replace(
            F.lower(F.col("text")), "[^a-z0-9]+", " ")), " "))
         .alias("tok"))
        .where(F.col("tok") != ""))
    # Spark decodes the first md5 byte with conv(); the oracle uses
    # strpos arithmetic (DuckDB has no conv) — identical integer value
    md5 = F.md5(F.col("tok").cast("binary"))
    bucket = F.pmod(F.conv(F.substring(md5, 1, 2), 16, 10).cast("int"),
                    F.lit(64))
    w = Window.partitionBy("doc_id")
    hb = (toks.select("doc_id", bucket.alias("bucket"))
              .withColumn("__total", F.count(F.lit(1)).over(w)))
    return (hb.groupBy("doc_id", "bucket")
              .agg(F.count(F.lit(1)).alias("n_tokens"),
                   F.round(F.count(F.lit(1)) / F.max("__total"), 4)
                    .alias("tf")))

HASHED_VECTORS_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
  FROM documents
), t2 AS (
  SELECT doc_id, tok FROM toks WHERE tok <> ''
), hb AS (
  SELECT doc_id,
         ((strpos('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substring(md5(tok), 2, 1)) - 1))
         % 64 AS bucket,
         count(*) OVER (PARTITION BY doc_id) AS total
  FROM t2
)
SELECT doc_id, bucket, count(*) AS n_tokens,
       round(count(*) / CAST(max(total) AS DOUBLE), 4) AS tf
FROM hb GROUP BY doc_id, bucket
"""


# --------------------------------------------------------------------------
# B38. Gopher quality rule set (Rae et al. 2021): per-document boolean
# rules + combined pass flag. One codegen'd projection, zero shuffles.
# --------------------------------------------------------------------------

def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.gopher_flags(docs).select(
        "doc_id", "n_words", "mean_word_len", "flag_word_count",
        "flag_word_len", "flag_symbol_ratio", "flag_alpha_ratio",
        "flag_stopwords", "pass_gopher")

GOPHER_SQL = r"""
WITH f AS (
  SELECT doc_id,
         CAST(length(text) AS INT) AS n_chars,
         CAST(length(regexp_replace(trim(text), '\s+', ' ', 'g'))
              AS INT) AS n_chars_norm,
         CAST(len(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'),
                               ' ')) AS INT) AS n_words,
         len(regexp_extract_all(text, '[#…]')) AS n_sym,
         len(regexp_extract_all(text, '\b[A-Za-z]+\b')) AS n_alpha,
         len(regexp_extract_all(lower(text),
             '\b(the|a|of|to|and|is|in|that|it|for)\b')) AS n_stop
  FROM documents
)
SELECT doc_id, n_words,
       round(CAST(n_chars_norm - n_words + 1 AS DOUBLE) / n_words, 4)
         AS mean_word_len,
       CAST(n_words >= 50 AND n_words <= 100000 AS INT) AS flag_word_count,
       CAST(CAST(n_chars_norm - n_words + 1 AS DOUBLE) / n_words >= 3.0
            AND CAST(n_chars_norm - n_words + 1 AS DOUBLE) / n_words <= 10.0
            AS INT) AS flag_word_len,
       CAST(CAST(n_sym AS DOUBLE) <= 0.1 * n_chars AS INT)
         AS flag_symbol_ratio,
       CAST(CAST(n_alpha AS DOUBLE) >= 0.8 * n_words AS INT)
         AS flag_alpha_ratio,
       CAST(n_stop >= 2 AS INT) AS flag_stopwords,
       CAST(n_words >= 50 AND n_words <= 100000
            AND CAST(n_chars_norm - n_words + 1 AS DOUBLE) / n_words >= 3.0
            AND CAST(n_chars_norm - n_words + 1 AS DOUBLE) / n_words <= 10.0
            AND CAST(n_sym AS DOUBLE) <= 0.1 * n_chars
            AND CAST(n_alpha AS DOUBLE) >= 0.8 * n_words
            AND n_stop >= 2 AS INT) AS pass_gopher
FROM f
"""


# --------------------------------------------------------------------------
# B39. Heaps'-law fit: vocabulary growth V = K·N^β across sources,
# estimated by OLS on (ln N, ln V) per source (Heaps 1978, public; the
# lexical-diversity companion to B33's Zipf slope). The explode+agg is
# the only distributed work; the fit runs over #sources points through
# the same normal-equation machinery as A21. ln features are rounded
# to 6 dp on both engines before the Gram sums.
# --------------------------------------------------------------------------

def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
    per_src = (toks.groupBy("source")
                   .agg(F.count(F.lit(1)).alias("__n"),
                        F.countDistinct("tok").alias("__v")))
    feat = per_src.select(F.round(F.log("__n"), 6).alias("ln_n"),
                          F.round(F.log("__v"), 6).alias("ln_v"))
    # + 0.0 normalizes IEEE negative zero: the synthetic corpus's
    # slope is ~0, so float-sum order decides the pre-rounding SIGN
    # (±1e-16) and round(., 4) lands on -0.0 or 0.0 run-to-run —
    # observed as an sf0.1 gate flake (round-5)
    return (ml.ols_fit_df(feat, ["ln_n"], "ln_v")
              .select("term", (F.col("estimate") + 0.0).alias("estimate")))

HEAPS_SQL = oracles.normal_eq_sql(
    ["ln_n"], "ln_v",
    table=r"""(
  SELECT round(ln(count(*)), 6) AS ln_n,
         round(ln(count(DISTINCT tok)), 6) AS ln_v
  FROM (SELECT source,
               unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents) __toks
  GROUP BY source) __t""")
#: negative-zero normalization mirrored on the oracle side
HEAPS_SQL = (f"SELECT term, estimate + 0.0 AS estimate "
             f"FROM ({HEAPS_SQL}) __hz")


# --------------------------------------------------------------------------
# B40. BM25 ranked retrieval (Robertson-Spärck Jones, public) for a
# fixed query over the corpus: tf/df from one explode+agg, idf and
# avgdl rounded (6/4 dp) so both engines score with identical decimal
# constants, per-term partial scores summed in a FIXED column order
# (never a float sum whose order the engine picks). Top-20 with
# doc_id tiebreak. Scale shape: posting-list join on the query terms
# only (the term filter prunes the exploded table before any shuffle).
# --------------------------------------------------------------------------

_BM25_TERMS = ["spark", "join", "window"]
_BM25_K1, _BM25_B = 1.2, 0.75


def bm25_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__dl"))
    stats_g = dl.agg(F.round(F.avg("__dl"), 4).alias("__avgdl"),
                     F.count(F.lit(1)).alias("__nd"))
    hits = (toks.where(F.col("tok").isin(_BM25_TERMS))
                .groupBy("doc_id", "tok")
                .agg(F.count(F.lit(1)).alias("__tf")))
    dfreq = hits.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
    scored = (hits.join(dl, "doc_id")
                  .join(F.broadcast(dfreq), "tok")
                  .crossJoin(F.broadcast(stats_g)))
    idf = F.round(F.log((F.col("__nd") - F.col("__df") + 0.5)
                        / (F.col("__df") + 0.5) + 1), 6)
    tf = F.col("__tf").cast("double")
    part = (idf * (tf * (_BM25_K1 + 1))
            / (tf + _BM25_K1 * (1 - _BM25_B
                                + _BM25_B * F.col("__dl") / F.col("__avgdl"))))
    per_term = scored.select("doc_id", "tok", part.alias("__s"))
    # fixed-order sum: one conditional agg per query term, added in
    # list order — engines may not reorder a + b + c over columns
    aggs = [F.sum(F.when(F.col("tok") == t, F.col("__s"))
                  .otherwise(F.lit(0.0))).alias(f"__s_{i}")
            for i, t in enumerate(_BM25_TERMS)]
    total = per_term.groupBy("doc_id").agg(*aggs)
    score = F.col("__s_0")
    for i in range(1, len(_BM25_TERMS)):
        score = score + F.col(f"__s_{i}")
    return (total.select("doc_id", F.round(score, 4).alias("bm25"))
                 .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
                 .limit(20))

_BM25_CASES = ",\n         ".join(
    f"sum(CASE WHEN tok = '{t}' THEN s ELSE 0.0 END) AS s_{i}"
    for i, t in enumerate(_BM25_TERMS))
BM25_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
  FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
g AS (SELECT round(avg(dl), 4) AS avgdl, count(*) AS nd FROM dl),
hits AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks
  WHERE tok IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
  GROUP BY 1, 2
),
dfreq AS (SELECT tok, count(*) AS df FROM hits GROUP BY 1),
scored AS (
  SELECT h.doc_id, h.tok,
         round(ln((g.nd - f.df + 0.5) / (f.df + 0.5) + 1), 6)
           * (CAST(h.tf AS DOUBLE) * ({_BM25_K1} + 1))
           / (CAST(h.tf AS DOUBLE)
              + {_BM25_K1} * (1 - {_BM25_B}
                              + {_BM25_B} * dl.dl / g.avgdl)) AS s
  FROM hits h JOIN dl ON dl.doc_id = h.doc_id
  JOIN dfreq f ON f.tok = h.tok CROSS JOIN g
),
tot AS (
  SELECT doc_id,
         {_BM25_CASES}
  FROM scored GROUP BY 1
)
SELECT doc_id,
       round(s_0 + s_1 + s_2, 4) AS bm25
FROM tot
ORDER BY round(s_0 + s_1 + s_2, 4) DESC, doc_id ASC
LIMIT 20
"""


# --------------------------------------------------------------------------
# B41. Multinomial naive Bayes language classifier (public; McCallum &
# Nigam 1998): train token likelihoods on an 80% doc_id-hash split,
# predict the held-out 20%. Per-token log-likelihoods and log-priors
# are rounded to 6 dp on BOTH engines before the per-document sum, and
# the argmax rounds the total to 6 dp with a lexicographic lang
# tiebreak — so the prediction is engine-stable. Scale shape: token
# counts are one explode+agg; scoring is an equi-join of the test
# token table against the (lang, token) likelihood table (broadcast-
# able here; falls back to a shuffle hash join when the vocabulary is
# large) — never a per-row Python loop.
# --------------------------------------------------------------------------

def naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.pmod(F.col("doc_id"), F.lit(5)) != 0)
    test = docs.where(F.pmod(F.col("doc_id"), F.lit(5)) == 0)
    tr_tok = train.select(
        "lang", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
    clt = tr_tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("__c"))
    nl = tr_tok.groupBy("lang").agg(F.count(F.lit(1)).alias("__nl"))
    vocab = tr_tok.agg(F.countDistinct("tok").alias("__v"))
    pri = (train.groupBy("lang").agg(F.count(F.lit(1)).alias("__nd"))
                .crossJoin(F.broadcast(
                    train.agg(F.count(F.lit(1)).alias("__nt"))))
                .select("lang", F.round(F.log(F.col("__nd")
                                              / F.col("__nt")), 6)
                                 .alias("__logprior")))
    te_tok = test.select(
        F.col("doc_id"), F.col("lang").alias("true_lang"),
        F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
    cand = (te_tok.crossJoin(
                F.broadcast(nl.crossJoin(vocab)
                              .withColumnRenamed("lang", "__l")))
                  .join(clt, (F.col("__l") == clt["lang"])
                             & (te_tok["tok"] == clt["tok"]), "left")
                  .drop(clt["lang"]).drop(clt["tok"]))
    term = F.round(F.log((F.coalesce(F.col("__c"), F.lit(0)) + 1)
                         / (F.col("__nl") + F.col("__v")).cast("double")),
                   6)
    per_lang = (cand.groupBy("doc_id", "true_lang",
                             F.col("__l").alias("cand_lang"))
                    .agg(F.sum(term).alias("__ll"))
                    .join(F.broadcast(pri),
                          F.col("cand_lang") == pri["lang"])
                    .select("doc_id", "true_lang", "cand_lang",
                            F.round(F.col("__ll") + F.col("__logprior"), 6)
                             .alias("__score")))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("__score").desc(), F.col("cand_lang").asc())
    return (per_lang.withColumn("__r", F.row_number().over(w))
                    .where(F.col("__r") == 1)
                    .select("doc_id",
                            F.col("cand_lang").alias("pred_lang"),
                            (F.col("pred_lang") == F.col("true_lang"))
                            .cast("int").alias("correct")))

NAIVE_BAYES_SQL = r"""
WITH train AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
test AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
tr_tok AS (
  SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS tok
  FROM train
),
clt AS (SELECT lang, tok, count(*) AS c FROM tr_tok GROUP BY 1, 2),
nl AS (SELECT lang, count(*) AS nl FROM tr_tok GROUP BY 1),
vocab AS (SELECT count(DISTINCT tok) AS v FROM tr_tok),
pri AS (
  SELECT lang,
         round(ln(CAST(count(*) AS DOUBLE)
                  / (SELECT count(*) FROM train)), 6) AS logprior
  FROM train GROUP BY 1
),
te_tok AS (
  SELECT doc_id, lang AS true_lang,
         unnest(string_split_regex(trim(text), '\s+')) AS tok
  FROM test
),
cand AS (
  SELECT t.doc_id, t.true_lang, nl.lang AS cand_lang,
         round(ln((coalesce(clt.c, 0) + 1)
                  / CAST(nl.nl + vocab.v AS DOUBLE)), 6) AS term
  FROM te_tok t CROSS JOIN nl CROSS JOIN vocab
  LEFT JOIN clt ON clt.lang = nl.lang AND clt.tok = t.tok
),
per_lang AS (
  SELECT c.doc_id, c.true_lang, c.cand_lang,
         round(sum(c.term) + max(p.logprior), 6) AS score
  FROM cand c JOIN pri p ON p.lang = c.cand_lang
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT doc_id, true_lang, cand_lang, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, cand_lang ASC) AS r
  FROM per_lang
)
SELECT doc_id, cand_lang AS pred_lang,
       CAST(cand_lang = true_lang AS INT) AS correct
FROM ranked WHERE r = 1
"""


# --------------------------------------------------------------------------
# B42. SemDeDup — semantic dedup via k-means cells + in-cell cosine
# (Abbas et al. 2023). Expected-parquet oracle (the quantizer is not
# SQL-expressible); semantic recall is asserted against the exact
# near-dup kernel in tests/test_round2_late.py.
# --------------------------------------------------------------------------

def semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.semdedup(emb, n_cells=16, threshold=0.4)


# --------------------------------------------------------------------------
# B43. Cross-document duplicate passages: exact dedup at CHUNK
# granularity (the RefinedWeb/C4 passage-dedup step, public). Reuses
# the B28 chunker with stride == size (non-overlapping passages) at a
# small window so the synthetic corpus actually collides; output is
# the top repeated passages with occurrence and distinct-doc counts.
# Scale: one projection + one (chunk_md5) shuffle — the md5 is the
# shuffle key, so the fact never moves twice.
# --------------------------------------------------------------------------

def duplicate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ch = text_ops.chunk_tokens(docs, size=3, stride=3)
    return (ch.groupBy("chunk_md5")
              .agg(F.count(F.lit(1)).alias("n_total"),
                   F.countDistinct("doc_id").alias("n_docs"),
                   F.min("doc_id").alias("first_doc"))
              .where(F.col("n_docs") > 1)
              .orderBy(F.col("n_total").desc(), F.col("chunk_md5").asc())
              .limit(50))

DUPLICATE_CHUNKS_SQL = r"""
WITH base AS (
  SELECT doc_id,
         string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                      ' ') AS w
  FROM documents
), st AS (
  SELECT doc_id, w, len(w) AS n,
         unnest(generate_series(1, greatest(len(w) - 3 + 1, 1), 3)) AS s
  FROM base
), ch AS (
  SELECT doc_id, md5(array_to_string(list_slice(w, s, s + 2), ' ')) AS chunk_md5
  FROM st
)
SELECT chunk_md5, count(*) AS n_total,
       count(DISTINCT doc_id) AS n_docs,
       min(doc_id) AS first_doc
FROM ch GROUP BY 1
HAVING count(DISTINCT doc_id) > 1
ORDER BY n_total DESC, chunk_md5 ASC
LIMIT 50
"""


# --------------------------------------------------------------------------
# B44. Triangle count + global clustering coefficient on the brand
# co-purchase graph (public; the standard edge-join triangle
# enumeration, e.g. Suri-Vassilvitskii 2011). Edges = brand pairs
# co-occurring in MORE orders than the mean pair (SF-robust
# threshold); pairs are generated IN-ROW from per-order sorted brand
# arrays (the basket_brand_lift construction — no fact self-join).
# The edge table is nodes²-bounded, so the wedge/triangle joins run
# broadcast; at web scale the same joins shuffle on node id, which is
# the canonical distributed algorithm.
# --------------------------------------------------------------------------

def triangle_count_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    pc = _basket_pair_counts(_order_brands(spark, sf_dir))
    e = _mean_support_edges(pc).localCheckpoint(eager=True)
    deg = (e.select(F.col("a").alias("v"))
            .unionAll(e.select(F.col("b").alias("v")))
            .groupBy("v").agg(F.count(F.lit(1)).alias("d")))
    base = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long")
         .alias("n_wedges"))
    ne = e.agg(F.count(F.lit(1)).alias("n_edges"))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (e1.join(e2, F.col("e1.b") == F.col("e2.a"))
             .join(e3, (F.col("e1.a") == F.col("e3.a"))
                       & (F.col("e2.b") == F.col("e3.b")))
             .agg(F.count(F.lit(1)).alias("n_triangles")))
    return (base.crossJoin(F.broadcast(ne))
                .crossJoin(F.broadcast(tri))
                .select("n_nodes", "n_edges", "n_wedges", "n_triangles",
                        F.round(3.0 * F.col("n_triangles")
                                / F.greatest(F.col("n_wedges"), F.lit(1)),
                                4).alias("clustering_coef")))

TRIANGLE_SQL = """
WITH ob AS (
  SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), pc AS (
  SELECT x.brand AS a, y.brand AS b, count(*) AS n_ab
  FROM ob x JOIN ob y ON x.ok = y.ok AND x.brand < y.brand
  GROUP BY 1, 2
), e AS (
  SELECT a, b FROM pc WHERE n_ab > (SELECT avg(n_ab) FROM pc)
), deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
  ) GROUP BY 1
), base AS (
  SELECT count(*) AS n_nodes,
         CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
  FROM deg
), ne AS (SELECT count(*) AS n_edges FROM e),
tri AS (
  SELECT count(*) AS n_triangles
  FROM e e1 JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       round(3.0 * n_triangles / greatest(n_wedges, 1), 4)
         AS clustering_coef
FROM base, ne, tri
"""


# --------------------------------------------------------------------------
# B45. KL divergence of each source's token distribution from the
# corpus distribution (add-1 smoothed over the corpus vocabulary) —
# the information-theoretic companion to B26's PSI drift. The dense
# (source × vocab) grid is sources × |V| rows — an equi-join of two
# aggregates, no all-pairs; per-cell terms are rounded to 8 dp so
# engine ln ulps cannot reach the vocab-sized sum.
# --------------------------------------------------------------------------

def kl_divergence_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
    cst = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("__c"))
    ns = toks.groupBy("source").agg(F.count(F.lit(1)).alias("__ns"))
    glob = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__g"))
    tot = glob.agg(F.sum("__g").alias("__n"),
                   F.count(F.lit(1)).alias("__v"))
    grid = (ns.crossJoin(glob)
              .join(cst, ["source", "tok"], "left")
              .crossJoin(F.broadcast(tot)))
    p = (F.coalesce(F.col("__c"), F.lit(0)) + 1) \
        / (F.col("__ns") + F.col("__v")).cast("double")
    q = (F.col("__g") + 1) / (F.col("__n") + F.col("__v")).cast("double")
    term = F.round(p * F.log(p / q), 8)
    return (grid.groupBy("source")
                .agg(F.max("__ns").alias("n_tokens"),
                     F.round(F.sum(term), 4).alias("kl_divergence")))

KL_DIVERGENCE_SQL = r"""
WITH toks AS (
  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
  FROM documents
),
cst AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2),
ns AS (SELECT source, count(*) AS ns FROM toks GROUP BY 1),
gl AS (SELECT tok, count(*) AS g FROM toks GROUP BY 1),
tot AS (SELECT CAST(sum(g) AS BIGINT) AS n, count(*) AS v FROM gl),
grid AS (
  SELECT ns.source, ns.ns, gl.g, tot.n, tot.v,
         coalesce(cst.c, 0) AS c
  FROM ns CROSS JOIN gl
  LEFT JOIN cst ON cst.source = ns.source AND cst.tok = gl.tok
  CROSS JOIN tot
)
SELECT source, CAST(max(ns) AS BIGINT) AS n_tokens,
       round(sum(round(((c + 1) / CAST(ns + v AS DOUBLE))
                       * ln(((c + 1) / CAST(ns + v AS DOUBLE))
                            / ((g + 1) / CAST(n + v AS DOUBLE))), 8)), 4)
         AS kl_divergence
FROM grid GROUP BY 1
"""


# --------------------------------------------------------------------------
# B46. Item-item cosine similarity on the brand co-purchase matrix —
# the neighborhood model of classic collaborative filtering (Sarwar et
# al. 2001, public): cos(a,b) = n_ab / √(n_a·n_b) over order baskets.
# Reuses the in-row pair generation (no fact self-join); integer
# counts + one IEEE sqrt keep the score engine-exact. Top-30 with
# lexicographic pair tiebreak.
# --------------------------------------------------------------------------

def item_cosine_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NO localCheckpoint on ob, unlike basket_brand_lift: with only
    # two consumers (pairs, bc) replaying the pruned scan+distinct
    # measured faster than materializing (5.1 s vs 6.4 s at 20x
    # stress, A/B'ed both ways) — the 3-consumer basket query is the
    # crossover point
    ob = _order_brands(spark, sf_dir)
    bc = ob.groupBy("brand").agg(F.count(F.lit(1)).alias("n_b"))
    pairs = (_basket_pair_counts(ob)
             .withColumnRenamed("a", "brand_a")
             .withColumnRenamed("b", "brand_b"))
    ca = bc.select(F.col("brand").alias("brand_a"),
                   F.col("n_b").alias("n_a"))
    cb = bc.select(F.col("brand").alias("brand_b"),
                   F.col("n_b").alias("n_b"))
    return (pairs.join(F.broadcast(ca), "brand_a")
                 .join(F.broadcast(cb), "brand_b")
                 .select("brand_a", "brand_b", "n_ab",
                         F.round(F.col("n_ab")
                                 / F.sqrt((F.col("n_a") * F.col("n_b"))
                                          .cast("double")), 4)
                          .alias("cosine"))
                 .orderBy(F.col("cosine").desc(), "brand_a", "brand_b")
                 .limit(30))

ITEM_COSINE_SQL = """
WITH ob AS (
  SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), pc AS (
  SELECT x.brand AS brand_a, y.brand AS brand_b, count(*) AS n_ab
  FROM ob x JOIN ob y ON x.ok = y.ok AND x.brand < y.brand
  GROUP BY 1, 2
), bc AS (SELECT brand, count(*) AS n_b FROM ob GROUP BY 1)
SELECT pc.brand_a, pc.brand_b, pc.n_ab,
       round(pc.n_ab / sqrt(CAST(a.n_b * b.n_b AS DOUBLE)), 4) AS cosine
FROM pc JOIN bc a ON a.brand = pc.brand_a
JOIN bc b ON b.brand = pc.brand_b
ORDER BY cosine DESC, brand_a, brand_b
LIMIT 30
"""


# --------------------------------------------------------------------------
# B47. Distributed BFS hop distances on the brand co-purchase graph
# from the lexicographically-smallest node — the iterative-frontier
# companion to B22's connected components and B27's PageRank. Each
# round is one equi-join of the CURRENT frontier against the edge
# list (shuffle = frontier-adjacency, never the graph²), with
# localCheckpoint lineage truncation per round. The oracle is a real
# recursive CTE (DuckDB WITH RECURSIVE) over the same mean-support
# edge set — an independent engine's fixpoint, not a pinned file.
# --------------------------------------------------------------------------

def bfs_hops_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    pc = _basket_pair_counts(_order_brands(spark, sf_dir))
    e = _mean_support_edges(pc)
    ue = (e.unionAll(e.select(F.col("b").alias("a"),
                              F.col("a").alias("b")))
           .localCheckpoint(eager=True))
    src = ue.agg(F.min("a").alias("v")).withColumn("hops", F.lit(0))
    dist = src.localCheckpoint(eager=True)
    frontier = dist
    for k in range(1, 5):
        nxt = (frontier.join(ue, frontier["v"] == ue["a"])
                       .select(ue["b"].alias("v"),
                               F.lit(k).alias("hops"))
                       .distinct())
        dist = (dist.unionAll(nxt)
                    .groupBy("v").agg(F.min("hops").alias("hops"))
                    .localCheckpoint(eager=True))
        frontier = dist.where(F.col("hops") == k)
        if frontier.limit(1).count() == 0:  # fixpoint before max depth
            break
    return dist.select(F.col("v").alias("brand"), "hops")

BFS_SQL = """
WITH RECURSIVE ob AS (
  SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), pc AS (
  SELECT x.brand AS a, y.brand AS b, count(*) AS n_ab
  FROM ob x JOIN ob y ON x.ok = y.ok AND x.brand < y.brand
  GROUP BY 1, 2
), e AS (
  SELECT a, b FROM pc WHERE n_ab > (SELECT avg(n_ab) FROM pc)
), ue AS (
  SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e
), walk(v, d) AS (
  SELECT (SELECT min(a) FROM ue) AS v, 0 AS d
  UNION
  SELECT ue.b, walk.d + 1
  FROM walk JOIN ue ON ue.a = walk.v
  WHERE walk.d < 4
)
SELECT v AS brand, CAST(min(d) AS INT) AS hops
FROM walk GROUP BY 1
"""


# --------------------------------------------------------------------------
# B48. LSA spectrum: singular values of the PPMI token co-occurrence
# matrix — count-based embedding training (Deerwester 1990 /
# Levy-Goldberg 2014). Vocab capped by frequency so the driver SVD is
# vocab²-bounded at any corpus size; expected-parquet oracle (SVD not
# SQL-expressible), geometry-audited like the other pinned oracles.
# --------------------------------------------------------------------------

def lsa_singular_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ml.lsa_singular_values(docs, vocab_size=50, top_k=10)


# --------------------------------------------------------------------------
# B49. Frequent 3-itemsets (Apriori's k=3 step, Agrawal-Srikant 1994,
# public): top brand triples co-purchased in one order. Triples
# generate IN-ROW from the per-order sorted brand array (bounded by
# C(brands-per-order, 3) — never an order-table 3-way self-join);
# integer support counts make the top-20 frontier engine-exact.
# --------------------------------------------------------------------------

def basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_order = _per_order_brand_sets(_order_brands(spark, sf_dir))
    n = F.size("bs")
    triples_arr = F.flatten(F.flatten(F.transform(
        F.sequence(F.lit(0), n - 3),
        lambda i: F.transform(
            F.sequence(i + 1, n - 2),
            lambda j: F.transform(
                F.sequence(j + 1, n - 1),
                lambda k: F.struct(
                    F.element_at(F.col("bs"), i + 1).alias("a"),
                    F.element_at(F.col("bs"), j + 1).alias("b"),
                    F.element_at(F.col("bs"), k + 1).alias("c")))))))
    return (per_order.where(n >= 3)
            .select(F.explode(triples_arr).alias("t"))
            .groupBy(F.col("t.a").alias("brand_a"),
                     F.col("t.b").alias("brand_b"),
                     F.col("t.c").alias("brand_c"))
            .agg(F.count(F.lit(1)).alias("support"))
            .orderBy(F.col("support").desc(), "brand_a", "brand_b",
                     "brand_c")
            .limit(20))

BASKET_TRIPLES_SQL = """
WITH ob AS (
  SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT x.brand AS brand_a, y.brand AS brand_b, z.brand AS brand_c,
       count(*) AS support
FROM ob x
JOIN ob y ON y.ok = x.ok AND y.brand > x.brand
JOIN ob z ON z.ok = x.ok AND z.brand > y.brand
GROUP BY 1, 2, 3
ORDER BY support DESC, brand_a, brand_b, brand_c
LIMIT 20
"""


# --------------------------------------------------------------------------
# B50. Trigram-set name similarity (record-linkage blocking; public —
# e.g. Gravano et al. 2001 q-gram joins): part-name pairs within a
# brand whose character-3-gram sets have cosine ≥ 0.5. The set-based
# score joins on (brand, gram) — linear in gram postings, never a
# quadratic edit-distance pass (contrast A45's Levenshtein, which is
# the small-blocked complement). Integer gram counts + IEEE sqrt.
# --------------------------------------------------------------------------

def trigram_name_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # canonicalize to DISTINCT (brand, name) representatives first:
    # identical names would otherwise pair quadratically (751k output
    # rows at sf0.1, unbounded at corpus scale); matching
    # representatives bounds both the join and the output by the name
    # vocabulary, and the member counts preserve the linkage info
    names = (load_table(spark, sf_dir, "part")
             .groupBy(F.col("p_brand").alias("brand"),
                      F.lower(F.col("p_name")).alias("nm"))
             .agg(F.count(F.lit(1)).alias("n_parts")))
    grams = (names.select(
        "brand", "nm",
        # greatest(..., 1) guards Spark's DESCENDING sequence(1, 0)
        # trap on names shorter than 3 chars (the chunk_tokens guard);
        # such a name contributes its whole string as one gram on both
        # engines
        F.explode(F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.greatest(F.length("nm") - 2, F.lit(1))),
            lambda i: F.col("nm").substr(i, F.lit(3)))))
         .alias("gram")))
    sizes = grams.groupBy("brand", "nm").agg(
        F.count(F.lit(1)).alias("sz"))
    a = grams.select("brand", F.col("nm").alias("nm_a"), "gram")
    b = grams.select("brand", F.col("nm").alias("nm_b"), "gram")
    inter = (a.join(b, ["brand", "gram"])
              .where(F.col("nm_a") < F.col("nm_b"))
              .groupBy("brand", "nm_a", "nm_b")
              .agg(F.count(F.lit(1)).alias("n_inter")))
    sa = sizes.select("brand", F.col("nm").alias("nm_a"),
                      F.col("sz").alias("sz_a"))
    sb = sizes.select("brand", F.col("nm").alias("nm_b"),
                      F.col("sz").alias("sz_b"))
    ca = names.select("brand", F.col("nm").alias("nm_a"),
                      F.col("n_parts").alias("n_parts_a"))
    cb = names.select("brand", F.col("nm").alias("nm_b"),
                      F.col("n_parts").alias("n_parts_b"))
    cos = F.col("n_inter") / F.sqrt((F.col("sz_a") * F.col("sz_b"))
                                    .cast("double"))
    return (inter.join(sa, ["brand", "nm_a"]).join(sb, ["brand", "nm_b"])
                 .join(ca, ["brand", "nm_a"]).join(cb, ["brand", "nm_b"])
                 .where(F.round(cos, 4) >= 0.5)
                 .select("brand", F.col("nm_a").alias("name_a"),
                         F.col("nm_b").alias("name_b"),
                         "n_parts_a", "n_parts_b",
                         F.round(cos, 4).alias("gram_cosine")))

TRIGRAM_SIM_SQL = """
WITH names AS (
  SELECT p_brand AS brand, lower(p_name) AS nm, count(*) AS n_parts
  FROM part GROUP BY 1, 2
), grams AS (
  SELECT DISTINCT brand, nm, substr(nm, i, 3) AS gram
  FROM names,
       unnest(generate_series(1, greatest(length(nm) - 2, 1))) AS t(i)
), sizes AS (
  SELECT brand, nm, count(*) AS sz FROM grams GROUP BY 1, 2
), inter AS (
  SELECT a.brand, a.nm AS nm_a, b.nm AS nm_b, count(*) AS n_inter
  FROM grams a JOIN grams b
    ON a.brand = b.brand AND a.gram = b.gram AND a.nm < b.nm
  GROUP BY 1, 2, 3
)
SELECT i.brand, nm_a AS name_a, nm_b AS name_b,
       ca.n_parts AS n_parts_a, cb.n_parts AS n_parts_b,
       round(n_inter / sqrt(CAST(sa.sz * sb.sz AS DOUBLE)), 4)
         AS gram_cosine
FROM inter i
JOIN sizes sa ON sa.brand = i.brand AND sa.nm = i.nm_a
JOIN sizes sb ON sb.brand = i.brand AND sb.nm = i.nm_b
JOIN names ca ON ca.brand = i.brand AND ca.nm = i.nm_a
JOIN names cb ON cb.brand = i.brand AND cb.nm = i.nm_b
WHERE round(n_inter / sqrt(CAST(sa.sz * sb.sz AS DOUBLE)), 4) >= 0.5
"""


# --------------------------------------------------------------------------
# B51. Lexical diversity per source: type-token ratio, hapax ratio,
# and Yule's K = 10⁴·(Σ m²·V(m) − N)/N² from the frequency-of-
# frequencies table (Yule 1944, public) — all integer-derived, so
# engine-exact. Two vocabulary-width shuffles (token counts → count-of-
# counts), corpus never re-shuffled.
# --------------------------------------------------------------------------

def yule_k_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
    tc = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("m"))
    ff = (tc.groupBy("source", "m")
            .agg(F.count(F.lit(1)).alias("vm")))
    return (ff.groupBy("source")
              .agg(F.sum(F.col("m") * F.col("vm")).alias("__n"),
                   F.sum("vm").alias("n_types"),
                   F.sum(F.when(F.col("m") == 1, F.col("vm"))
                          .otherwise(F.lit(0))).alias("n_hapax"),
                   F.sum(F.col("m") * F.col("m") * F.col("vm"))
                    .alias("__m2"))
              .select("source",
                      F.col("__n").alias("n_tokens"), "n_types",
                      F.round(F.col("n_types") / F.col("__n"), 4)
                       .alias("ttr"),
                      F.round(F.col("n_hapax") / F.col("n_types"), 4)
                       .alias("hapax_ratio"),
                      # cast BEFORE the square: __n² overflows BIGINT
                      # at ~3e9 tokens/source (code-review r02)
                      F.round(F.lit(10_000.0)
                              * (F.col("__m2") - F.col("__n"))
                              / (F.col("__n").cast("double")
                                 * F.col("__n")), 4)
                       .alias("yule_k")))

YULE_K_SQL = r"""
WITH toks AS (
  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
  FROM documents
), tc AS (
  SELECT source, tok, count(*) AS m FROM toks GROUP BY 1, 2
), ff AS (
  SELECT source, m, count(*) AS vm FROM tc GROUP BY 1, 2
)
SELECT source,
       CAST(sum(m * vm) AS BIGINT) AS n_tokens,
       CAST(sum(vm) AS BIGINT) AS n_types,
       round(CAST(sum(vm) AS DOUBLE) / sum(m * vm), 4) AS ttr,
       round(CAST(sum(CASE WHEN m = 1 THEN vm ELSE 0 END) AS DOUBLE)
             / sum(vm), 4) AS hapax_ratio,
       round(10000.0 * (sum(m * m * vm) - sum(m * vm))
             / (CAST(sum(m * vm) AS DOUBLE) * sum(m * vm)), 4) AS yule_k
FROM ff GROUP BY 1
"""


# --------------------------------------------------------------------------
# B52. Count-min sketch (Cormode-Muthukrishnan 2005, public): d=3
# rows × w=64 buckets of counters over the event-type stream, then
# point estimates = min over rows — with the CMS overestimate
# guarantee checked against true counts in the same output. The
# sketch is 192 mergeable cells (map-side combined) regardless of
# stream size; hashes are md5 hex pairs so the oracle replays them
# EXACTLY (the hashed_token_vectors conv/strpos recipe — no
# engine-private hash).
# --------------------------------------------------------------------------

_CMS_D, _CMS_W = 3, 64


def _cms_bucket_spark(col, d: int):
    md5 = F.md5(col.cast("binary"))
    pair = F.substring(md5, 1 + 2 * d, 2)
    return F.pmod(F.conv(pair, 16, 10).cast("int"), F.lit(_CMS_W))


def _cms_bucket_sql(expr: str, d: int) -> str:
    a, b = 1 + 2 * d, 2 + 2 * d
    return (f"(16 * (strpos('0123456789abcdef', "
            f"substring(md5({expr}), {a}, 1)) - 1) "
            f"+ (strpos('0123456789abcdef', "
            f"substring(md5({expr}), {b}, 1)) - 1)) % {_CMS_W}")


def cms_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(F.explode(F.array(*[
        F.struct(F.lit(d).alias("d"),
                 _cms_bucket_spark(F.col("event_type"), d).alias("bucket"))
        for d in range(_CMS_D)])).alias("h"))
    cms = (rows.groupBy(F.col("h.d").alias("d"),
                        F.col("h.bucket").alias("bucket"))
               .agg(F.count(F.lit(1)).alias("c")))
    truth = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("true_count"))
    probes = truth.select("event_type", "true_count", F.explode(F.array(*[
        F.struct(F.lit(d).alias("d"),
                 _cms_bucket_spark(F.col("event_type"), d).alias("bucket"))
        for d in range(_CMS_D)])).alias("h"))
    return (probes.join(F.broadcast(cms),
                        (probes["h.d"] == cms["d"])
                        & (probes["h.bucket"] == cms["bucket"]))
                  .groupBy("event_type", "true_count")
                  .agg(F.min("c").alias("cms_estimate"))
                  .select("event_type", "true_count", "cms_estimate",
                          (F.col("cms_estimate") >= F.col("true_count"))
                          .cast("int").alias("is_overestimate")))

_CMS_HASH_UNION = "\nUNION ALL\n".join(
    f"SELECT {d} AS d, {_cms_bucket_sql('event_type', d)} AS bucket, "
    "event_type FROM events"
    for d in range(_CMS_D))
CMS_SQL = f"""
WITH hashes AS (
{_CMS_HASH_UNION}
), cms AS (
  SELECT d, bucket, count(*) AS c FROM hashes GROUP BY 1, 2
), truth AS (
  SELECT event_type, count(*) AS true_count FROM events GROUP BY 1
), probes AS (
  SELECT DISTINCT t.event_type, t.true_count, h.d, h.bucket
  FROM truth t JOIN hashes h ON h.event_type = t.event_type
)
SELECT p.event_type, p.true_count,
       CAST(min(cms.c) AS BIGINT) AS cms_estimate,
       CAST(min(cms.c) >= p.true_count AS INT) AS is_overestimate
FROM probes p JOIN cms ON cms.d = p.d AND cms.bucket = p.bucket
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# B53. DSIR data-selection importance weights (Xie et al. 2023,
# "Data Selection for Language Models via Importance Resampling"):
# per-document log importance weight log w(d) = SUM_tokens
# [ln p_target(bucket) - ln p_corpus(bucket)] over HASHED unigram
# buckets (64-way md5 bucketing — the same bucket function as
# hashed_token_vectors, shared bit-for-bit with the SQL oracle),
# Laplace-smoothed. The target distribution here is the 'src0' slice
# of the corpus standing in for a high-quality reference set. Plan:
# two token-count aggregates (target + corpus) collapse to a 64-row
# log-ratio table that BROADCASTS to the per-document scoring pass —
# at 100 TB nothing but token streams ever shuffles, and those only
# into 64-key partial aggregates.
# --------------------------------------------------------------------------

def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (docs.select(
        "doc_id", "source",
        F.explode(F.split(F.trim(F.regexp_replace(
            F.lower(F.col("text")), "[^a-z0-9]+", " ")), " "))
         .alias("tok"))
        .where(F.col("tok") != ""))
    md5 = F.md5(F.col("tok").cast("binary"))
    bucket = F.pmod(F.conv(F.substring(md5, 1, 2), 16, 10).cast("int"),
                    F.lit(64))
    tb = toks.select("source", bucket.alias("b"))
    tgt = (tb.where(F.col("source") == "src0")
             .groupBy("b").agg(F.count(F.lit(1)).alias("t")))
    all_b = tb.groupBy("b").agg(F.count(F.lit(1)).alias("s"))
    ratio = (all_b.join(tgt, "b", "left")
                  .withColumn("t", F.coalesce("t", F.lit(0)))
                  .crossJoin(all_b.agg(F.sum("s").alias("tot_s"))
                                  .crossJoin(
                                      tgt.agg(F.sum("t").alias("tot_t"))))
                  .select("b",
                          (F.log((F.col("t") + 1)
                                 / (F.col("tot_t") + 64))
                           - F.log((F.col("s") + 1)
                                   / (F.col("tot_s") + 64))).alias("lr")))
    return (toks.select("doc_id", bucket.alias("b"))
                .join(F.broadcast(ratio), "b")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_tokens"),
                     F.round(F.sum("lr"), 4).alias("log_weight")))

DSIR_SQL = """
WITH toks AS (
  SELECT doc_id, source,
         unnest(string_split(trim(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
  FROM documents
), tb AS (
  SELECT doc_id, source,
         ((strpos('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substring(md5(tok), 2, 1)) - 1))
         % 64 AS b
  FROM toks WHERE tok <> ''
), tgt AS (
  SELECT b, count(*) AS t FROM tb WHERE source = 'src0' GROUP BY 1
), all_b AS (
  SELECT b, count(*) AS s FROM tb GROUP BY 1
), tots AS (
  SELECT (SELECT sum(s) FROM all_b) AS S1, (SELECT sum(t) FROM tgt) AS T1
), ratio AS (
  SELECT all_b.b,
         ln((coalesce(t, 0) + 1) / CAST(T1 + 64 AS DOUBLE))
           - ln((s + 1) / CAST(S1 + 64 AS DOUBLE)) AS lr
  FROM all_b LEFT JOIN tgt ON all_b.b = tgt.b CROSS JOIN tots
)
SELECT doc_id, count(*) AS n_tokens, round(sum(lr), 4) AS log_weight
FROM tb JOIN ratio USING (b)
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# B54. Bloom-filter decontamination probe (Bloom 1970; the scale path
# for B23's exact gram join): the eval set's word 3-grams set k=3 bit
# positions each (16-bit positions from the first 4 hex chars of a
# seeded md5 — the hash is shared bit-for-bit with the SQL oracle),
# and the DISTINCT-position table — bounded by 2^16 rows no matter
# how large the eval set grows — broadcasts to the corpus probe: a
# corpus gram is flagged iff ALL k positions are present (join +
# count(k)). Relational Bloom semantics: deterministic, false
# positives possible by design (compare decontam_overlap for exact
# overlap), zero false negatives — a pre-filter whose survivors
# would feed the exact join at 100 TB.
# --------------------------------------------------------------------------

_BLOOM_BITS = 1 << 16

def _bloom_positions(gram_col: str):
    return [F.conv(F.substring(
                F.md5(F.concat(F.lit(f"bloom{i}|"),
                               F.col(gram_col)).cast("binary")), 1, 4),
                16, 10).cast("int").alias(f"p{i}")
            for i in range(3)]

def decontam_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grams = (dedup_ops.word_ngrams(docs.select("doc_id", "text"),
                                   "text", 3)
             .select("doc_id", F.explode_outer("grams").alias("gram"))
             .where(F.col("gram").isNotNull()))
    ev = grams.where(F.col("doc_id") % 20 == 0)
    corpus = grams.where(F.col("doc_id") % 20 != 0)
    bits = (ev.select(F.explode(F.array(*_bloom_positions("gram")))
                       .alias("pos"))
              .distinct())
    probe = (corpus.select(
        "doc_id", "gram",
        F.explode(F.array(*_bloom_positions("gram"))).alias("pos")))
    flagged = (probe.join(F.broadcast(bits), "pos")
                    .groupBy("doc_id", "gram")
                    .agg(F.count(F.lit(1)).alias("k_hit"))
                    .where(F.col("k_hit") == 3))
    return (flagged.groupBy("doc_id")
                   .agg(F.countDistinct("gram").alias("n_flagged_grams")))

_BLOOM_POS_SQL = """
          ((((strpos('0123456789abcdef', substring(md5('bloom{i}|' || gram), 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substring(md5('bloom{i}|' || gram), 2, 1)) - 1)) * 16
           + (strpos('0123456789abcdef', substring(md5('bloom{i}|' || gram), 3, 1)) - 1)) * 16
           + (strpos('0123456789abcdef', substring(md5('bloom{i}|' || gram), 4, 1)) - 1))"""

DECONTAM_BLOOM_SQL = ("""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text),
             '[^a-z0-9 ]', ' ', 'g')), '\\s+') AS t
  FROM documents
), grams_raw AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS gram
  FROM toks
), grams AS (
  -- per-doc distinct grams, mirroring word_ngrams' array_distinct
  SELECT DISTINCT doc_id, gram FROM grams_raw
), pos AS (
  SELECT doc_id, gram, unnest([""" +
    ", ".join(_BLOOM_POS_SQL.format(i=i) for i in range(3)) + """
  ]) AS pos
  FROM grams
), bits AS (
  SELECT DISTINCT pos FROM pos WHERE doc_id % 20 = 0
), flagged AS (
  SELECT p.doc_id, p.gram
  FROM pos p JOIN bits USING (pos)
  WHERE p.doc_id % 20 <> 0
  GROUP BY p.doc_id, p.gram
  HAVING count(*) = 3
)
SELECT doc_id, count(DISTINCT gram) AS n_flagged_grams
FROM flagged GROUP BY 1
""")


# --------------------------------------------------------------------------
# B55. Near-dup cluster representatives, keep-best retention (the
# cluster-level twin of B1b's exact keep-best — RefinedWeb/Gopher
# pipelines keep ONE document per near-dup cluster, chosen by
# quality): B22's connected components label the clusters, B8's
# quality score ranks members, and the representative per cluster is
# the quality argmax (ties: smallest doc_id). Singleton docs (no
# near-dup edge) represent themselves, so the output is a full
# retention decision for the corpus: one row per kept doc with its
# cluster size.
# --------------------------------------------------------------------------

def cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_ops.ngram_jaccard_pairs(docs, group_col="source",
                                          ngram=3, threshold=0.05)
    comp = dedup_ops.connected_components(pairs, src="doc_id_a",
                                          dst="doc_id_b")
    q = text_ops.quality_score(docs).select("doc_id", "quality_score")
    labeled = (q.join(comp.withColumnRenamed("node", "doc_id"),
                      "doc_id", "left")
                .withColumn("lbl", F.coalesce("lbl", F.col("doc_id"))))
    return (labeled.groupBy("lbl")
            .agg(F.count(F.lit(1)).alias("cluster_size"),
                 F.max_by("doc_id",
                          F.struct(F.col("quality_score"),
                                   -F.col("doc_id"))).alias("kept_doc_id"),
                 F.max("quality_score").alias("kept_quality"))
            .select(F.col("lbl").alias("cluster_label"), "kept_doc_id",
                    "cluster_size", "kept_quality"))

CLUSTER_KEEP_BEST_SQL = (
    DEDUP_CLUSTERS_SQL.rsplit("SELECT node, min(lbl) AS lbl", 1)[0]
    .rstrip().rstrip(")").rstrip()  # reopen the CTE list: strip the
                                    # closing paren of reach(...) AS (
    + """)
, comp AS (
  SELECT node, min(lbl) AS lbl FROM reach GROUP BY node
), q AS (
  SELECT doc_id,
         round(least(len(string_split_regex(trim(text), '\\s+')) / 100.0,
                     1.0) * 0.4
               + (len(regexp_extract_all(lower(text),
                      '\\b(the|a|of|to|and|is|in|that|it|for)\\b'))
                  / CAST(greatest(len(string_split_regex(trim(text),
                                      '\\s+')), 1) AS DOUBLE)) * 0.4
               + (1 - len(regexp_extract_all(text, '[^\\w\\s]'))
                  / CAST(greatest(length(text), 1) AS DOUBLE)) * 0.2,
               4) AS quality_score
  FROM documents
), labeled AS (
  SELECT q.doc_id, q.quality_score,
         coalesce(comp.lbl, q.doc_id) AS lbl
  FROM q LEFT JOIN comp ON comp.node = q.doc_id
), kept AS (
  SELECT lbl, max(quality_score) AS kq FROM labeled GROUP BY lbl
)
SELECT l.lbl AS cluster_label,
       min(CASE WHEN l.quality_score = k.kq THEN l.doc_id END)
         AS kept_doc_id,
       count(*) AS cluster_size,
       max(l.quality_score) AS kept_quality
FROM labeled l JOIN kept k USING (lbl)
GROUP BY l.lbl
""")


# --------------------------------------------------------------------------
# B56. Classifier-based quality filtering (the GPT-3/LLaMA pipeline
# pattern — Brown et al. 2020 train a classifier on a reference set
# and keep documents it scores highly): logistic regression (IRLS,
# ml.logreg_irls — n_iter one-aggregate scans, driver-side solve) on
# the document quality features predicting the Gopher pass flag, so
# the cheap feature projection can stand in for the expensive rule
# evaluation at serving time. Emits the fitted coefficients.
# Deterministic closed-loop algebra -> expected-parquet oracle
# (geometry-audited), like logreg_returnflag.
# --------------------------------------------------------------------------

def quality_classifier_coeffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # quality_score and gopher_flags are both row-local projections of
    # the same rows, so they COMPOSE — a doc_id join here would scan
    # the text twice and shuffle for nothing (measured 3.65 s -> ~2 s
    # at sf0.1). gopher_flags overwrites n_words with its whitespace-
    # normalized count, which equals quality_score's run-count for any
    # text, so the feature values are bit-identical to the joined form
    # (expected-parquet oracle unchanged).
    feats = (text_ops.gopher_flags(text_ops.quality_score(docs))
             .select((F.col("n_words") / 100.0).alias("words_h"),
                     "stop_ratio", "punct_ratio",
                     F.col("pass_gopher").cast("double").alias("label")))
    # l2=1.0: the label is rule-derived from these very features, so
    # the classes are perfectly separable and plain MLE diverges
    return ml.logreg_irls(feats, ["words_h", "stop_ratio", "punct_ratio"],
                          "label", n_iter=8, l2=1.0)


# --------------------------------------------------------------------------
# B57. Tokenizer fertility by language (the bytes-per-token /
# pieces-per-word audit every multilingual pipeline runs before
# fixing a tokenizer budget): chars per BPE-ish piece, pieces per
# whitespace word, per language — one codegen projection + one
# groupBy.
# --------------------------------------------------------------------------

def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = text_ops.token_counts(docs)
    return (t.groupBy("lang")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.round(F.sum(F.length("text"))
                          / F.sum("bpe_tokens"), 4)
                   .alias("chars_per_piece"),
                  F.round(F.sum("bpe_tokens").cast("double")
                          / F.sum("ws_tokens"), 4)
                   .alias("pieces_per_word")))

FERTILITY_SQL = r"""
WITH t AS (
  SELECT lang, length(text) AS n_chars,
         CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS ws_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
           AS bpe_tokens
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       round(CAST(sum(n_chars) AS DOUBLE) / sum(bpe_tokens), 4)
         AS chars_per_piece,
       round(CAST(sum(bpe_tokens) AS DOUBLE) / sum(ws_tokens), 4)
         AS pieces_per_word
FROM t GROUP BY lang
"""


# --------------------------------------------------------------------------
# B58. Vocabulary overlap vs a reference corpus (set-level domain
# match — the n-gram/vocab companion to B53's token-distribution
# DSIR): per-source Jaccard between the source's distinct token
# vocabulary and the 'src0' reference vocabulary. The reference vocab
# (distinct tokens — bounded by vocabulary, not corpus) broadcasts to
# the per-source distinct stream.
# --------------------------------------------------------------------------

def vocab_overlap_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (docs.select(
        "source",
        F.explode(F.split(F.trim(F.regexp_replace(
            F.lower(F.col("text")), "[^a-z0-9]+", " ")), " "))
         .alias("tok"))
        .where(F.col("tok") != "")
        .distinct())
    tgt = (toks.where(F.col("source") == "src0")
               .select("tok").distinct())
    n_tgt_df = tgt.agg(F.count(F.lit(1)).alias("n_tgt"))
    per = (toks.join(F.broadcast(tgt.withColumn("__hit", F.lit(1))),
                     "tok", "left")
               .groupBy("source")
               .agg(F.count(F.lit(1)).alias("n_vocab"),
                    F.sum(F.coalesce("__hit", F.lit(0))).alias("n_common")))
    return (per.crossJoin(F.broadcast(n_tgt_df))
            .select("source", "n_vocab",
                    F.col("n_common").cast("long").alias("n_common"),
                    F.round(F.col("n_common").cast("double")
                            / (F.col("n_vocab") + F.col("n_tgt")
                               - F.col("n_common")), 6)
                     .alias("vocab_jaccard")))

VOCAB_OVERLAP_SQL = """
WITH toks AS (
  SELECT DISTINCT source, tok FROM (
    SELECT source,
           unnest(string_split(trim(regexp_replace(lower(text),
                  '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
    FROM documents
  ) WHERE tok <> ''
), tgt AS (
  SELECT DISTINCT tok FROM toks WHERE source = 'src0'
), n_t AS (SELECT count(*) AS n_tgt FROM tgt),
per AS (
  SELECT t.source, count(*) AS n_vocab,
         CAST(sum(CASE WHEN g.tok IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_common
  FROM toks t LEFT JOIN tgt g ON t.tok = g.tok
  GROUP BY 1
)
SELECT source, n_vocab, n_common,
       round(CAST(n_common AS DOUBLE)
             / (n_vocab + n_tgt - n_common), 6) AS vocab_jaccard
FROM per CROSS JOIN n_t
"""


# --------------------------------------------------------------------------
# B59. Per-source exact-duplication rate report (the first number any
# corpus audit prints — how much of each source is literal copies):
# md5 the canonical text once, count docs vs distinct digests per
# source. One digest shuffle; the 16-byte digest travels, never the
# text.
# --------------------------------------------------------------------------

def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select("source", F.md5(F.col("text").cast("binary"))
                    .alias("dig"))
    return (h.groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.countDistinct("dig").alias("n_unique"))
             .select("source", "n_docs", "n_unique",
                     (F.col("n_docs") - F.col("n_unique"))
                      .alias("n_exact_dups"),
                     F.round((F.col("n_docs") - F.col("n_unique"))
                             / F.col("n_docs").cast("double"), 6)
                      .alias("dup_rate")))

DUP_RATE_SQL = """
SELECT source, count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_unique,
       count(*) - count(DISTINCT md5(text)) AS n_exact_dups,
       round((count(*) - count(DISTINCT md5(text)))
             / CAST(count(*) AS DOUBLE), 6) AS dup_rate
FROM documents GROUP BY source
"""


# --------------------------------------------------------------------------
# B60. Quality-score lift table (the calibration audit for B8's
# heuristic score against B38's Gopher rules — does the cheap score
# actually rank rule-passing documents first?): documents bucketed
# into score deciles (NTILE over the per-doc score, deterministic
# doc_id tie-break), per-decile Gopher pass rate + cumulative lift
# over the base rate.
# --------------------------------------------------------------------------

def quality_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = (text_ops.quality_score(docs)
              .join(text_ops.gopher_flags(docs)
                    .select("doc_id", "pass_gopher"), "doc_id")
              .select("doc_id", "quality_score",
                      F.col("pass_gopher").cast("int").alias("label")))
    # NTILE(10) without the single-task global sort: range-partition
    # on the (negated score, doc_id) order key, per-partition row
    # numbers + broadcast offsets, then ntile's exact bucket
    # arithmetic — the acctbal_deciles construction
    s = (scored.withColumn("__neg", -F.col("quality_score"))
               .repartitionByRange(F.col("__neg"), F.col("doc_id"))
               .withColumn("__pid", F.spark_partition_id()))
    wl = Window.partitionBy("__pid").orderBy("__neg", "doc_id")
    local = s.withColumn("__rn", F.row_number().over(wl)) \
             .localCheckpoint(eager=True)  # pin ONE evaluation (__pid
    # offset-join class fix, round 5 — see stats.tie_avg_ranks)
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
    dec = (local.join(F.broadcast(off.select("__pid", "__off")), "__pid")
                .crossJoin(F.broadcast(tot))
                .withColumn("decile", decile.cast("int")))
    per = (dec.groupBy("decile")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum("label").alias("n_pass")))
    tot = per.agg((F.sum("n_pass") / F.sum("n_docs")).alias("base_rate"))
    wc = (Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, 0))
    cum = (per.withColumn("cum_pass", F.sum("n_pass").over(wc))
              .withColumn("cum_docs", F.sum("n_docs").over(wc))
              .crossJoin(F.broadcast(tot)))
    # nullif: a corpus where NO document passes gopher has base_rate 0
    # — lift undefined => NULL, never an ANSI DIVIDE_BY_ZERO abort
    return cum.select(
        "decile", "n_docs",
        F.round(F.col("n_pass") / F.col("n_docs"), 4).alias("pass_rate"),
        F.round((F.col("cum_pass") / F.col("cum_docs"))
                / F.nullif(F.col("base_rate"), F.lit(0.0)), 4)
         .alias("cum_lift"))

QUALITY_LIFT_SQL = r"""
WITH f AS (
  SELECT doc_id,
         CAST(length(text) AS INT) AS n_chars_txt,
         CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_words,
         len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
         len(regexp_extract_all(lower(text),
             '\b(the|a|of|to|and|is|in|that|it|for)\b')) AS n_stop
  FROM documents
), scored AS (
  SELECT doc_id,
         round(least(n_words / 100.0, 1.0) * 0.4
               + (CAST(n_stop AS DOUBLE) / greatest(n_words, 1)) * 0.4
               + (1 - CAST(n_punct AS DOUBLE)
                  / greatest(n_chars_txt, 1)) * 0.2, 4) AS quality_score
  FROM f
), lbl AS (
  SELECT s.doc_id, s.quality_score, g.pass_gopher
  FROM scored s JOIN (__GOPHER__) g ON s.doc_id = g.doc_id
), dec AS (
  SELECT *, ntile(10) OVER (ORDER BY quality_score DESC, doc_id)
           AS decile
  FROM lbl
), per AS (
  SELECT decile, count(*) AS n_docs,
         sum(CASE WHEN pass_gopher THEN 1 ELSE 0 END) AS n_pass
  FROM dec GROUP BY 1
), tot AS (
  SELECT CAST(sum(n_pass) AS DOUBLE) / sum(n_docs) AS base_rate FROM per
)
SELECT decile, n_docs,
       round(CAST(n_pass AS DOUBLE) / n_docs, 4) AS pass_rate,
       round((CAST(sum(n_pass) OVER (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE)
              / sum(n_docs) OVER (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             / nullif(base_rate, 0), 4) AS cum_lift
FROM per CROSS JOIN tot
"""

QUALITY_LIFT_SQL = QUALITY_LIFT_SQL.replace("__GOPHER__", GOPHER_SQL)


# --------------------------------------------------------------------------
# B61. Jensen-Shannon divergence per source (Lin 1991; the SYMMETRIC,
# bounded companion to B45's KL): JSD(P||C) = 0.5 KL(P||M) +
# 0.5 KL(C||M), M = (P+C)/2, over the same 64-way hashed-unigram
# distributions as B53 — the 64-bucket grids join broadcast, nothing
# token-sized shuffles twice.
# --------------------------------------------------------------------------

def js_divergence_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    tb = toks.select("source", bucket.alias("b"))
    per = tb.groupBy("source", "b").agg(F.count(F.lit(1)).alias("c"))
    src_tot = per.groupBy("source").agg(F.sum("c").alias("st"))
    corpus = tb.groupBy("b").agg(F.count(F.lit(1)).alias("cc"))
    corpus_tot = corpus.agg(F.sum("cc").alias("ct"))
    j = (per.join(src_tot, "source")
            .join(F.broadcast(corpus), "b")
            .crossJoin(F.broadcast(corpus_tot)))
    p = (F.col("c") + 1) / (F.col("st") + 64)
    q = (F.col("cc") + 1) / (F.col("ct") + 64)
    m = (p + q) / 2
    term = 0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)
    return (j.groupBy("source")
             .agg(F.round(F.sum(term), 6).alias("js_divergence"))
             )

JS_DIVERGENCE_SQL = """
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
), per AS (
  SELECT source, b, count(*) AS c FROM tb GROUP BY 1, 2
), st AS (
  SELECT source, sum(c) AS st FROM per GROUP BY 1
), corpus AS (
  SELECT b, count(*) AS cc FROM tb GROUP BY 1
), ct AS (SELECT sum(cc) AS ct FROM corpus)
SELECT source,
       round(sum(0.5 * ((c + 1) / CAST(st + 64 AS DOUBLE))
                 * ln(((c + 1) / CAST(st + 64 AS DOUBLE))
                      / ((((c + 1) / CAST(st + 64 AS DOUBLE))
                          + ((cc + 1) / CAST(ct + 64 AS DOUBLE))) / 2))
                 + 0.5 * ((cc + 1) / CAST(ct + 64 AS DOUBLE))
                 * ln(((cc + 1) / CAST(ct + 64 AS DOUBLE))
                      / ((((c + 1) / CAST(st + 64 AS DOUBLE))
                          + ((cc + 1) / CAST(ct + 64 AS DOUBLE))) / 2))),
             6) AS js_divergence
FROM per JOIN st USING (source) JOIN corpus USING (b) CROSS JOIN ct
GROUP BY source
"""


# --------------------------------------------------------------------------
# B62. Conditional bigram entropy rate per source (Shannon 1951's
# language-predictability measure H(w2|w1) = H(bigram) - H(unigram);
# complements B25's marginal token entropy and B24's PMI pairs): both
# entropies from the same tokenized pass — adjacent-pair counts via
# the posexplode self-zip, plug-in (ML) estimator.
# --------------------------------------------------------------------------

def bigram_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.split(F.trim(F.regexp_replace(
            F.lower(F.col("text")), "[^a-z0-9]+", " ")), " ").alias("t"))
    pairs = (toks.select(
        "source",
        F.explode(F.expr(
            "CASE WHEN size(t) >= 2 THEN "
            "transform(sequence(1, size(t) - 1), "
            "i -> struct(t[i-1] AS w1, t[i] AS w2)) "
            "ELSE array() END")).alias("p"))
        .select("source", F.col("p.w1").alias("w1"),
                F.col("p.w2").alias("w2"))
        .where((F.col("w1") != "") & (F.col("w2") != "")))
    big = pairs.groupBy("source", "w1", "w2").agg(
        F.count(F.lit(1)).alias("c"))
    uni = big.groupBy("source", "w1").agg(F.sum("c").alias("cu"))
    tot = big.groupBy("source").agg(F.sum("c").alias("n"))
    h_big = (big.join(tot, "source")
                .groupBy("source")
                .agg((-F.sum(F.col("c") / F.col("n")
                             * F.log(F.col("c") / F.col("n")))
                      ).alias("hb")))
    h_uni = (uni.join(tot, "source")
                .groupBy("source")
                .agg((-F.sum(F.col("cu") / F.col("n")
                             * F.log(F.col("cu") / F.col("n")))
                      ).alias("hu")))
    return (h_big.join(h_uni, "source")
            .select("source",
                    F.round(F.col("hb"), 4).alias("h_bigram_nats"),
                    F.round(F.col("hu"), 4).alias("h_unigram_nats"),
                    F.round(F.col("hb") - F.col("hu"), 4)
                     .alias("h_conditional_nats")))

BIGRAM_ENTROPY_SQL = """
WITH toks AS (
  SELECT source,
         string_split(trim(regexp_replace(lower(text),
             '[^a-z0-9]+', ' ', 'g')), ' ') AS t
  FROM documents
), pairs AS (
  SELECT source, t[i] AS w1, t[i + 1] AS w2
  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(t), 1))) AS i)
  WHERE t[i] <> '' AND t[i + 1] <> ''
), big AS (
  SELECT source, w1, w2, count(*) AS c FROM pairs GROUP BY 1, 2, 3
), uni AS (
  SELECT source, w1, sum(c) AS cu FROM big GROUP BY 1, 2
), tot AS (
  SELECT source, sum(c) AS n FROM big GROUP BY 1
), hb AS (
  SELECT big.source,
         -sum(c / CAST(n AS DOUBLE) * ln(c / CAST(n AS DOUBLE))) AS hb
  FROM big JOIN tot ON big.source = tot.source GROUP BY 1
), hu AS (
  SELECT uni.source,
         -sum(cu / CAST(n AS DOUBLE) * ln(cu / CAST(n AS DOUBLE))) AS hu
  FROM uni JOIN tot ON uni.source = tot.source GROUP BY 1
)
SELECT hb.source,
       round(hb, 4) AS h_bigram_nats,
       round(hu, 4) AS h_unigram_nats,
       round(hb - hu, 4) AS h_conditional_nats
FROM hb JOIN hu ON hb.source = hu.source
"""


# --------------------------------------------------------------------------
# B63. Near-duplication rate by source (the per-source roll-up of
# B2's MinHash pair list — which sources are flooding the corpus with
# near-copies): each candidate pair attributes to its members'
# sources; per-source involved-doc counts and rate. Oracle: the SQL
# side re-derives the same roll-up from B2's determinism-audited
# expected pair parquet joined to documents (pair generation is the
# audited part; the roll-up is plain relational algebra both sides).
# --------------------------------------------------------------------------

def near_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_ops.minhash_lsh_pairs(docs, n_perm=32, band_size=4)
    involved = (pairs.select(F.col("id_a").alias("doc_id"))
                .union(pairs.select(F.col("id_b").alias("doc_id")))
                .distinct())
    per = (docs.select("doc_id", "source")
               .join(involved.withColumn("__d", F.lit(1)),
                     "doc_id", "left")
               .groupBy("source")
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum(F.coalesce("__d", F.lit(0)))
                     .cast("long").alias("n_near_dup_docs")))
    return per.select(
        "source", "n_docs", "n_near_dup_docs",
        F.round(F.col("n_near_dup_docs") / F.col("n_docs").cast("double"),
                6).alias("near_dup_rate"))

def _near_dup_rate_sql() -> str:
    import os
    root = os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    pairs = os.path.join(root, "expected", "sf0.01",
                         "dedup_minhash.parquet").replace("\\", "/")
    return f"""
WITH pairs AS (
  SELECT * FROM read_parquet('{pairs}')
), involved AS (
  SELECT DISTINCT doc_id FROM (
    SELECT id_a AS doc_id FROM pairs
    UNION ALL SELECT id_b FROM pairs)
)
SELECT d.source, count(*) AS n_docs,
       CAST(sum(CASE WHEN i.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_near_dup_docs,
       round(sum(CASE WHEN i.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS near_dup_rate
FROM documents d LEFT JOIN involved i ON d.doc_id = i.doc_id
GROUP BY d.source
"""

NEAR_DUP_RATE_SQL = _near_dup_rate_sql()


# --------------------------------------------------------------------------
# Registry entries: key -> (builder, DuckDB oracle SQL). The package
# __init__ merges every module's QUERIES into REGISTRY; a new query is
# added here, next to its builder.
# --------------------------------------------------------------------------

QUERIES = {
    "events_windowed": (events_windowed, EVENTS_WINDOW_SQL),
    "events_sessions": (events_sessions, SESSIONS_SQL),
    "stream_interval_join_batch": (stream_interval_join_batch,
                                   STREAM_INTERVAL_JOIN_SQL),
    "stream_session_windows_batch": (stream_session_windows_batch,
                                     STREAM_SESSION_WINDOWS_SQL),
    "stream_hopping_windows_batch": (stream_hopping_windows_batch,
                                     STREAM_HOPPING_WINDOWS_SQL),
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_minhash": (dedup_minhash, _expected_sql("dedup_minhash")),
    "dedup_simhash": (dedup_simhash, _expected_sql("dedup_simhash")),
    "ngram_jaccard": (ngram_jaccard, NGRAM_JACCARD_SQL),
    "cosine_topk": (cosine_topk, COSINE_TOPK_SQL),
    "ann_lsh": (ann_lsh, ANN_LSH_SQL),
    "ann_ivf": (ann_ivf, _expected_sql("ann_ivf")),
    "dedup_embedding": (dedup_embedding, DEDUP_EMBEDDING_SQL),
    "text_langid": (text_langid, TEXT_LANGID_SQL),
    "text_quality": (text_quality, TEXT_QUALITY_SQL),
    "token_count": (token_count, TOKEN_COUNT_SQL),
    "doc_fingerprint": (doc_fingerprint, DOC_FINGERPRINT_SQL),
    "text_repetition": (text_repetition, TEXT_REPETITION_SQL),
    "pii_redaction": (pii_redaction, PII_REDACTION_SQL),
    "quality_funnel_by_source": (quality_funnel_by_source, QUALITY_FUNNEL_SQL),
    "length_filter_by_lang": (length_filter_by_lang, LENGTH_FILTER_SQL),
    "dedup_keep_best": (dedup_keep_best, DEDUP_KEEP_BEST_SQL),
    "winnow_overlap": (winnow_overlap, _expected_sql("winnow_overlap")),
    "pipeline_clean_corpus": (pipeline_clean_corpus, PIPELINE_CLEAN_SQL),
    "dsir_importance_weights": (dsir_importance_weights, DSIR_SQL),
    "decontam_bloom": (decontam_bloom, DECONTAM_BLOOM_SQL),
    "cluster_keep_best": (cluster_keep_best, CLUSTER_KEEP_BEST_SQL),
    "tokenizer_fertility_by_lang": (tokenizer_fertility_by_lang,
                                    FERTILITY_SQL),
    "quality_classifier_coeffs": (quality_classifier_coeffs,
                                  _expected_sql("quality_classifier_coeffs")),
    "vocab_overlap_by_source": (vocab_overlap_by_source,
                                VOCAB_OVERLAP_SQL),
    "dup_rate_by_source": (dup_rate_by_source, DUP_RATE_SQL),
    "quality_lift_table": (quality_lift_table, QUALITY_LIFT_SQL),
    "js_divergence_by_source": (js_divergence_by_source,
                                JS_DIVERGENCE_SQL),
    "bigram_entropy_by_source": (bigram_entropy_by_source,
                                 BIGRAM_ENTROPY_SQL),
    "near_dup_rate_by_source": (near_dup_rate_by_source,
                                NEAR_DUP_RATE_SQL),
    "tfidf_top_terms": (tfidf_top_terms, TFIDF_SQL),
    "embedding_centroids": (embedding_centroids, EMB_CENTROID_SQL),
    "multimodal_features": (multimodal_features, _expected_sql("multimodal_features")),
    "dedup_clusters": (dedup_clusters, DEDUP_CLUSTERS_SQL),
    "decontam_overlap": (decontam_overlap, DECONTAM_SQL),
    "collocation_pmi": (collocation_pmi, COLLOCATION_SQL),
    "token_entropy_by_source": (token_entropy_by_source, TOKEN_ENTROPY_SQL),
    "psi_drift_by_source": (psi_drift_by_source, PSI_DRIFT_SQL),
    "pagerank_suppliers": (pagerank_suppliers, PAGERANK_SQL),
    "chunk_documents": (chunk_documents, CHUNK_SQL),
    "surprisal_by_source": (surprisal_by_source, SURPRISAL_SQL),
    "capped_docs_per_source": (capped_docs_per_source, CAPPED_DOCS_SQL),
    "sketch_hll_union": (sketch_hll_union, SKETCH_HLL_UNION_SQL),
    "zipf_token_slope": (zipf_token_slope, ZIPF_SQL),
    "text_readability": (text_readability, READABILITY_SQL),
    "sketch_top_event_types": (sketch_top_event_types, SKETCH_TOPK_SQL),
    "inverted_index_sample": (inverted_index_sample, INVERTED_INDEX_SQL),
    "hashed_token_vectors": (hashed_token_vectors, HASHED_VECTORS_SQL),
    "gopher_quality_flags": (gopher_quality_flags, GOPHER_SQL),
    "heaps_law_fit": (heaps_law_fit, HEAPS_SQL),
    "bm25_scoring": (bm25_scoring, BM25_SQL),
    "naive_bayes_langid": (naive_bayes_langid, NAIVE_BAYES_SQL),
    "semdedup_embeddings": (semdedup_embeddings,
                            _expected_sql("semdedup_embeddings")),
    "duplicate_chunks": (duplicate_chunks, DUPLICATE_CHUNKS_SQL),
    "triangle_count_brands": (triangle_count_brands, TRIANGLE_SQL),
    "kl_divergence_by_source": (kl_divergence_by_source, KL_DIVERGENCE_SQL),
    "item_cosine_similarity": (item_cosine_similarity, ITEM_COSINE_SQL),
    "bfs_hops_brands": (bfs_hops_brands, BFS_SQL),
    "lsa_singular_values": (lsa_singular_values,
                            _expected_sql("lsa_singular_values")),
    "basket_triples": (basket_triples, BASKET_TRIPLES_SQL),
    "trigram_name_similarity": (trigram_name_similarity, TRIGRAM_SIM_SQL),
    "yule_k_by_source": (yule_k_by_source, YULE_K_SQL),
    "cms_event_counts": (cms_event_counts, CMS_SQL),
}
