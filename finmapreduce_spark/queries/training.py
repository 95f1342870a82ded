"""Training-data pipeline operators (north-star extensions): sequence
packing, TF-IDF vocabulary ranking, and benchmark-contamination
detection over the ``documents`` corpus.

These are the ops a 100 TB pretraining pipeline runs after dedup/
quality filtering (which live in queries/dedup.py and
queries/textops.py): pack documents into fixed token-budget training
sequences, rank salient vocabulary, and audit the corpus for eval-set
leakage. All three are pure DataFrame plans — no UDFs — so every row
stays JVM-side under whole-stage codegen, and each has an exact DuckDB
oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from finmapreduce_spark.operators.checkpoints import (
    iter_checkpoint,
    keep,
    release_iter_checkpoint,
)
from finmapreduce_spark.operators.distrank import banded_rank, hex_band
from finmapreduce_spark.queries import QuerySpec
from finmapreduce_spark.queries.dedup import SHINGLE_K, with_shingles
from finmapreduce_spark.session import read_table

# Packing: concat-then-chunk at sequence-budget boundaries, the
# standard pretraining layout (documents are concatenated in a
# deterministic order and split every SEQ_BUDGET tokens; a document can
# straddle two sequences). Buckets bound the window sort: each bucket
# packs independently, so parallelism = N_PACK_BUCKETS. 32 matches
# local cores; at cluster scale it is a config (≥ executor count).
N_PACK_BUCKETS = 32
SEQ_BUDGET = 512

TFIDF_TOP_K = 5

# Pseudo-benchmark: every 97th doc stands in for an eval set. In a
# real pipeline this is the actual benchmark corpus (small), which is
# exactly why the contamination join broadcasts it.
BENCH_MOD = 97


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


def _words(col):
    return F.split(F.trim(F.lower(col)), r"\s+")


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------

def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document a (bucket, seq_id, offset) in the packed
    training layout.

    Scale: ONE shuffle (window over bucket); each bucket's cumulative
    sum is an independent sorted run, so the sort is corpus/32 per
    task and buckets scale out linearly. No collect, no UDF — the
    whole layout is a window cumulative sum. Deterministic: bucket and
    order derive from doc_id alone, so re-runs (or task retries)
    produce byte-identical layouts.
    """
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(N_PACK_BUCKETS)).alias("bucket"),
        F.size(_words(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return _pack_layout(toks)


def _pack_layout(toks: DataFrame, order_col: str = "doc_id") -> DataFrame:
    """The ONE definition of the packed-layout math (round-10 review:
    the ws and vocab-exact packers must not be able to diverge): toks
    is (doc_id, bucket, n_tokens); layout = per-bucket window
    cumulative sum → seq_id/offset from the running total.
    ``order_col``: the in-bucket packing order (doc_id for the
    hash-bucketed packers; curriculum_rank for the curriculum
    packer, whose buckets are contiguous rank ranges)."""
    w = (
        W.partitionBy("bucket")
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = toks.withColumn(
        "cum_before", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    carry = [c for c in toks.columns if c not in ("doc_id", "bucket", "n_tokens")]
    return packed.select(
        "doc_id",
        *carry,
        "bucket",
        "n_tokens",
        F.floor(F.col("cum_before") / SEQ_BUDGET).cast("long").alias("seq_id"),
        F.pmod(F.col("cum_before"), F.lit(SEQ_BUDGET)).cast("long").alias(
            "seq_offset"
        ),
    )


def _pack_sql_tail(
    toks_rel: str, order_col: str = "doc_id", extra_cols: str = ""
) -> str:
    """SQL twin of _pack_layout over a (doc_id, bucket, n_tokens)
    relation — shared by all packing oracles. ``extra_cols``: comma-
    prefixed passthrough column list (e.g. ", stage, curriculum_rank")."""
    return f"""packed AS (
  SELECT doc_id{extra_cols}, bucket, n_tokens,
         sum(n_tokens) OVER (PARTITION BY bucket ORDER BY {order_col}
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS cum_before
  FROM {toks_rel}
)
SELECT doc_id{extra_cols}, bucket, n_tokens,
       CAST(floor(cum_before / {SEQ_BUDGET}) AS BIGINT) AS seq_id,
       CAST(cum_before % {SEQ_BUDGET} AS BIGINT) AS seq_offset
FROM packed"""


PACK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, doc_id % {N_PACK_BUCKETS} AS bucket,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT)
           AS n_tokens
  FROM documents
), {_pack_sql_tail('toks')}
"""


def pack_fill_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-card for the packed layout: per bucket, how many training
    sequences the concat-then-chunk produces, how full they are, and
    how many documents straddle a sequence boundary (the
    attention-masking cost of packing). All-integer except the final
    fill ratio, so the oracle is exact.

    Scale: one aggregation over pack_training_sequences' output — the
    window cumsum is already per-bucket-parallel, and the report adds
    a single map-side-combined groupBy on the same bucket key (no new
    exchange: the window partitioning is reused).
    """
    packed = pack_training_sequences(spark, sf_dir)
    agg = packed.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(
            F.when(
                F.col("seq_offset") + F.col("n_tokens") > SEQ_BUDGET, 1
            ).otherwise(0)
        ).alias("straddlers"),
    )
    n_seqs = (
        F.floor((F.col("total_tokens") - 1) / SEQ_BUDGET).cast("long") + 1
    )
    return agg.select(
        "bucket",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        n_seqs.alias("n_seqs"),
        (n_seqs * SEQ_BUDGET - F.col("total_tokens"))
        .cast("long")
        .alias("waste_tokens"),
        F.col("straddlers").cast("long").alias("straddlers"),
        F.round(
            F.col("total_tokens") / (n_seqs * SEQ_BUDGET).cast("double"), 6
        ).alias("fill_pct"),
    )


PACK_FILL_ORACLE = f"""
WITH packed AS ({PACK_ORACLE}),
agg AS (
  SELECT bucket, count(*) AS n_docs,
         sum(n_tokens) AS total_tokens,
         sum(CASE WHEN seq_offset + n_tokens > {SEQ_BUDGET}
                  THEN 1 ELSE 0 END) AS straddlers
  FROM packed GROUP BY bucket
)
SELECT bucket, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       CAST(floor((total_tokens - 1) / {SEQ_BUDGET}) + 1 AS BIGINT) AS n_seqs,
       CAST((floor((total_tokens - 1) / {SEQ_BUDGET}) + 1) * {SEQ_BUDGET}
            - total_tokens AS BIGINT) AS waste_tokens,
       CAST(straddlers AS BIGINT) AS straddlers,
       round(total_tokens / CAST((floor((total_tokens - 1) / {SEQ_BUDGET}) + 1)
                                 * {SEQ_BUDGET} AS DOUBLE), 6) AS fill_pct
FROM agg
"""


# ---------------------------------------------------------------------------
# TF-IDF top-k terms per document
# ---------------------------------------------------------------------------

def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} TF-IDF terms per doc (tf × ln((N+1)/(df+1))).

    Scale: term counts partial-agg map-side before the (doc, word)
    shuffle; document frequency aggregates the TERM-COUNT table (one
    row per distinct (doc, word)), never re-reading text. The df table
    (|vocab| rows) joins the tf table on word — a shuffle join AQE can
    skew-split if a stopword-like term dominates. Ranking rounds the
    score FIRST so cross-engine float noise below 1e-6 cannot flip
    ranks (ties then break on the word itself).
    """
    docs = _docs(spark, sf_dir)
    n_docs = docs.select(F.countDistinct("doc_id").alias("n_docs"))
    terms = docs.select(
        "doc_id", F.explode(_words(F.col("text"))).alias("word")
    )
    tf = terms.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("word").agg(F.count("*").alias("df"))
    scored = (
        tf.join(df_, "word")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1) / (F.col("df") + 1)),
                6,
            ),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "word", "tf", "df", "tfidf", "rank")
    )


TFIDF_ORACLE = f"""
WITH terms AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
  FROM documents
), tf AS (
  SELECT doc_id, word, count(*) AS tf FROM terms GROUP BY 1, 2
), df AS (
  SELECT word, count(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.word, tf.tf, df.df,
         round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
  FROM tf JOIN df USING (word) CROSS JOIN n
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY tfidf DESC, word ASC) AS rank
  FROM scored
)
SELECT doc_id, word, tf, df, tfidf, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


# ---------------------------------------------------------------------------
# Benchmark contamination audit
# ---------------------------------------------------------------------------

def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per training doc: fraction of its distinct {k}-gram shingles
    that appear in the (pseudo-)benchmark set — the eval-leakage audit
    run before any training job ships.

    Scale: benchmark shingles are DISTINCT'd then broadcast (real
    benchmarks are ≪ the corpus — that asymmetry is the whole
    design); the training side explodes shingles and left-joins the
    broadcast, so the corpus never shuffles. Per-doc ratios are one
    partial-agg'd groupBy. Reuses the exact shingle semantics of the
    dedup family (queries/dedup.py) so contamination and near-dup
    numbers are comparable.

    The explode/join runs on xxhash64(shingle) longs, not shingle
    strings — overlap COUNTS are hash-invariant (collision odds
    ≈ |bench|·|doc|/2⁶⁴), the exploded payload shrinks ~3×, and the
    broadcast hit table is a long-keyed hash set (same trade
    dedup_lsh_pairs documents; measured 9.5 s → 1.7 s at sf0.1). The
    oracle stays on strings, which is the point: counts agree.
    """
    # floor=False: the downstream distinct + broadcast hit set are
    # unique-ish shingle keys — fanning the map side out defeats
    # partial dedup (the trigram-lane counter-case, measured +0.5 s
    # and 0.07 → 0.92 MB shuffle at sf0.1 with the floor on)
    sh = with_shingles(_docs(spark, sf_dir), floor=False).select(
        "doc_id",
        F.explode(
            F.transform("shingles", lambda s: F.xxhash64(s))
        ).alias("s"),
    )
    bench = (
        sh.filter(F.pmod(F.col("doc_id"), F.lit(BENCH_MOD)) == 0)
        .select("s")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = sh.filter(F.pmod(F.col("doc_id"), F.lit(BENCH_MOD)) != 0)
    joined = train.join(F.broadcast(bench), "s", "left")
    report = joined.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.coalesce("hit", F.lit(0))).alias("n_contaminated"),
    )
    return report.filter(F.col("n_contaminated") > 0).select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        F.round(F.col("n_contaminated") / F.col("n_shingles"), 6).alias(
            "contamination_ratio"
        ),
    )


_SHINGLE_SQL = f"""
  SELECT doc_id, unnest(CASE WHEN len(words) >= {SHINGLE_K}
      THEN list_distinct(list_transform(
          range(1, len(words) - {SHINGLE_K - 1} + 1),
          i -> list_extract(words, i) || ' ' || list_extract(words, i + 1)
               || ' ' || list_extract(words, i + 2)))
      WHEN words IS NOT NULL
      THEN [array_to_string(words, ' ')] END) AS s
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS words
        FROM documents)
"""

CONTAMINATION_ORACLE = f"""
WITH sh AS ({_SHINGLE_SQL}),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % {BENCH_MOD} = 0),
train AS (SELECT * FROM sh WHERE doc_id % {BENCH_MOD} <> 0),
report AS (
  SELECT t.doc_id, count(*) AS n_shingles,
         count(b.s) AS n_contaminated
  FROM train t LEFT JOIN bench b ON t.s = b.s
  GROUP BY 1
)
SELECT doc_id, n_shingles, n_contaminated,
       round(n_contaminated / n_shingles, 6) AS contamination_ratio
FROM report WHERE n_contaminated > 0
"""


QUERIES: dict[str, QuerySpec] = {
    "pack_training_sequences": QuerySpec(pack_training_sequences, PACK_ORACLE),
    "pack_fill_report": QuerySpec(pack_fill_report, PACK_FILL_ORACLE),
    "text_tfidf_topk": QuerySpec(text_tfidf_topk, TFIDF_ORACLE),
    "contamination_ngram_overlap": QuerySpec(
        contamination_ngram_overlap, CONTAMINATION_ORACLE
    ),
}


# ---------------------------------------------------------------------------
# Domain-mix sampling
# ---------------------------------------------------------------------------

# Target language mix for a 200-doc training sample (fractions of
# MIX_BUDGET). Real pipelines read this from config; the shape is the
# point: per-domain quotas filled in deterministic hash order.
MIX_BUDGET = 200
MIX_TARGET = {"en": 0.4, "de": 0.2, "fr": 0.2, "es": 0.1, "zh": 0.1}


def sample_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample the corpus to a target per-language mix.

    Scale: one window per language partition (parallel across
    domains), ordered by md5(doc_id) — a deterministic shuffle-proof
    stand-in for random order, so re-runs and task retries pick the
    SAME sample (the property rand() cannot give). Quota lookup is a
    broadcast map; under-populated domains yield what they have.
    """
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    quota = F.create_map(
        *[
            x
            for lang, frac in MIX_TARGET.items()
            for x in (F.lit(lang), F.lit(int(frac * MIX_BUDGET)))
        ]
    )
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= quota[F.col("lang")])
        .select("doc_id", "lang")
    )


# ---------------------------------------------------------------------------
# Temperature-weighted mixture sampling (Gopher/mT5-style α-sampling):
# instead of FIXED per-domain quotas (sample_domain_mix), the sampling
# rate is COMPUTED from the corpus distribution — domain weight
# ∝ n_lang^α with α = 0.5, which upsamples tail languages relative to
# proportional sampling without flattening to uniform. α = 0.5 is the
# integer square root, so the whole threshold computation stays in
# BIGINT arithmetic: w_l = floor(sqrt(n_l)), keep-threshold_l =
# floor(T·w_l·65536 / (Σw·n_l)) compared against the 16-bit doc hash —
# bit-exact across engines, no float rounding anywhere.
#
# Scale: per-lang counts are one map-side-combined agg (L rows); the
# threshold table broadcasts; the corpus is filtered in place with NO
# shuffle and no window — strictly cheaper than the quota windows in
# sample_domain_mix, and the sampling decision is per-row independent
# (hash-Bernoulli), so it streams and resumes for free.
# ---------------------------------------------------------------------------

TEMP_MIX_BUDGET = 300  # target corpus size T (docs)


def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finmapreduce_spark.queries.textops import _hash_bucket_expr

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n"))
    w = counts.withColumn(
        "wl", F.floor(F.sqrt(F.col("n"))).cast("long")
    )
    total = w.agg(F.sum("wl").alias("s"))
    # threshold in 16-bit hash units; LEAST caps oversampled domains
    # at keep-everything (all integers < 2^53 → float div exact)
    thresh = (
        w.crossJoin(F.broadcast(total))
        .select(
            "lang",
            F.least(
                F.floor(
                    (F.lit(TEMP_MIX_BUDGET) * F.col("wl") * F.lit(65536))
                    / (F.col("s") * F.col("n"))
                ).cast("long"),
                F.lit(65536).cast("long"),
            ).alias("threshold"),
        )
    )
    hb = _hash_bucket_expr(F.col("doc_id"))
    return (
        docs.join(F.broadcast(thresh), "lang")
        .filter(hb < F.col("threshold"))
        .select("doc_id", "lang")
    )


def _temp_mix_oracle() -> str:
    from finmapreduce_spark.queries.textops import SPLIT_SQL_BUCKET

    return f"""
WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
w AS (SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS wl FROM counts),
tot AS (SELECT sum(wl) AS s FROM w),
thresh AS (
  SELECT lang,
         LEAST(CAST(floor(({TEMP_MIX_BUDGET} * wl * 65536)
                          / (s * n)) AS BIGINT),
               CAST(65536 AS BIGINT)) AS threshold
  FROM w CROSS JOIN tot
)
SELECT d.doc_id, d.lang
FROM documents d JOIN thresh t ON d.lang = t.lang
WHERE ({SPLIT_SQL_BUCKET}) < t.threshold
"""


_QUOTA_CASE = " ".join(
    f"WHEN '{lang}' THEN {int(frac * MIX_BUDGET)}"
    for lang, frac in MIX_TARGET.items()
)

DOMAIN_MIX_ORACLE = f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) WHERE rn <= CASE lang {_QUOTA_CASE} ELSE 0 END
"""


# ---------------------------------------------------------------------------
# Length-bucketed inference batching
# ---------------------------------------------------------------------------

LEN_BUCKET_WIDTH = 64
LEN_BUCKET_MAX = 15
INFER_BATCH_SIZE = 8


def batch_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group docs of similar token length into fixed-size inference
    batches (minimizes padding waste in batched model calls — the U6
    scorers consume exactly this layout).

    Scale: buckets are FIXED-WIDTH (n_tokens ÷ 64, capped), not
    ntile — no global sort; each bucket's row_number window is an
    independent partition. Batch membership is deterministic
    (md5-hash order), so a re-run shards identically.
    """
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.size(_words(F.col("text"))).cast("long").alias("n_tokens"),
    )
    bucketed = toks.withColumn(
        "len_bucket",
        F.least(
            F.floor(F.col("n_tokens") / LEN_BUCKET_WIDTH),
            F.lit(LEN_BUCKET_MAX),
        ).cast("long"),
    )
    w = W.partitionBy("len_bucket").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return bucketed.withColumn(
        "batch_id",
        ((F.row_number().over(w) - 1) / INFER_BATCH_SIZE)
        .cast("long"),
    ).select("doc_id", "n_tokens", "len_bucket", "batch_id")


BATCH_BY_LENGTH_ORACLE = f"""
SELECT doc_id, n_tokens, len_bucket,
       CAST((row_number() OVER (PARTITION BY len_bucket
         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1)
         // {INFER_BATCH_SIZE} AS BIGINT) AS batch_id
FROM (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT)
           AS n_tokens,
         least(CAST(floor(
           len(regexp_split_to_array(trim(lower(text)), '\\s+'))
           / {LEN_BUCKET_WIDTH}) AS BIGINT), {LEN_BUCKET_MAX}) AS len_bucket
  FROM documents
)
"""


# ---------------------------------------------------------------------------
# BM25 retrieval
# ---------------------------------------------------------------------------

BM25_QUERY = ("hash", "join", "merge", "sort")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10


def bm25_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} docs for a fixed term query under BM25 (Lucene idf) —
    the term-based retrieval twin of the embedding ANN family
    (queries/similarity.py).

    Scale: the corpus reduces to a (doc, term, tf) table filtered to
    QUERY terms before any join — a semi-join-sized relation. df,
    avgdl and N are tiny aggregates broadcast back; the final top-k is
    TakeOrderedAndProject over per-doc scores. Scores round to 6
    before ranking so cross-engine float noise cannot flip ranks.
    """
    docs = _docs(spark, sf_dir)
    qterms = spark.createDataFrame(
        [(t,) for t in BM25_QUERY], ["word"]
    )
    dl = docs.select(
        "doc_id", F.size(_words(F.col("text"))).cast("double").alias("dl")
    )
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count("*").cast("double").alias("n_docs")
    )
    terms = docs.select(
        "doc_id", F.explode(_words(F.col("text"))).alias("word")
    )
    tf = (
        terms.join(F.broadcast(qterms), "word")
        .groupBy("doc_id", "word")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    df_ = tf.groupBy("word").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(df_), "word")
        .join(F.broadcast(dl), "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("term_score", idf * F.col("tf") * (BM25_K1 + 1) / denom)
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("term_score"), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_TOP_K)
    )


_BM25_TERMS = ", ".join(f"'{t}'" for t in BM25_QUERY)

BM25_ORACLE = f"""
WITH dl AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS DOUBLE)
           AS dl
  FROM documents
), stats AS (
  SELECT avg(dl) AS avgdl, CAST(count(*) AS DOUBLE) AS n_docs FROM dl
), terms AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
  FROM documents
), tf AS (
  SELECT doc_id, word, CAST(count(*) AS DOUBLE) AS tf
  FROM terms WHERE word IN ({_BM25_TERMS}) GROUP BY 1, 2
), df AS (
  SELECT word, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
           * tf.tf * ({BM25_K1} + 1)
           / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
              + {BM25_B} * dl.dl / stats.avgdl)) AS term_score
  FROM tf JOIN df USING (word) JOIN dl USING (doc_id) CROSS JOIN stats
)
SELECT doc_id, round(sum(term_score), 6) AS bm25
FROM scored GROUP BY 1
ORDER BY bm25 DESC, doc_id ASC
LIMIT {BM25_TOP_K}
"""


QUERIES.update(
    {
        "sample_domain_mix": QuerySpec(sample_domain_mix, DOMAIN_MIX_ORACLE),
        "sample_temperature_mix": QuerySpec(
            sample_temperature_mix, _temp_mix_oracle()
        ),
        "batch_by_length": QuerySpec(batch_by_length, BATCH_BY_LENGTH_ORACLE),
        "bm25_retrieval_topk": QuerySpec(bm25_retrieval_topk, BM25_ORACLE),
    }
)


# ---------------------------------------------------------------------------
# The composed corpus-preparation DAG: dedup keep-list ∘ quality gate ∘
# passage-coverage trim → per-language data card. Each stage exists as
# its own catalog query; this entry pins that they COMPOSE into one
# Catalyst plan (shared scans, pushed predicates) and that the final
# corpus a trainer would consume is value-identical to the SQL chain.
# ---------------------------------------------------------------------------

QUALITY_MIN = 0.5       # quality-gate floor (text_quality_score units)
COVERAGE_TRIM = 0.5     # drop docs > this duplicated-passage fraction


def training_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language data card of the prepared training corpus:
    survivors of (exact + near dedup keep-list) ∩ (quality ≥ {q}) ∖
    (passage coverage > {c}), with doc counts, total words, and mean
    quality — the one-look summary a pretraining run starts from.

    Scale: this is deliberately a COMPOSITION of catalog operators
    (dedup_keep_list, text_quality_score, dedup_passage_coverage) —
    the engine's building blocks chain into one Catalyst plan without
    materialization barriers. The keep-list's anti-joins, the quality
    projection, and the coverage sweep each keep their pinned plan
    shapes; the final agg is a partial+final groupBy on lang.
    """
    from finmapreduce_spark.queries.dedup import (
        dedup_keep_list,
        dedup_passage_coverage,
    )
    from finmapreduce_spark.queries.textops import text_quality_score

    keep = dedup_keep_list(spark, sf_dir)
    qual = text_quality_score(spark, sf_dir).filter(
        F.col("quality") >= QUALITY_MIN
    )
    trim = dedup_passage_coverage(spark, sf_dir).filter(
        F.col("coverage") > COVERAGE_TRIM
    )
    survivors = (
        keep.join(qual, "doc_id")
        .join(trim.select("doc_id"), "doc_id", "left_anti")
    )
    return survivors.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    )


training_corpus_report.__doc__ = training_corpus_report.__doc__.format(
    q=QUALITY_MIN, c=COVERAGE_TRIM
)


def _corpus_report_oracle() -> str:
    from finmapreduce_spark.queries.dedup import (
        DEDUP_COVERAGE_ORACLE,
        DEDUP_KEEP_ORACLE,
    )
    from finmapreduce_spark.queries.textops import QUALITY_ORACLE

    return f"""
WITH keep AS ({DEDUP_KEEP_ORACLE}),
qual AS ({QUALITY_ORACLE}),
cov AS ({DEDUP_COVERAGE_ORACLE})
SELECT k.lang, count(*) AS n_docs,
       CAST(sum(q.n_words) AS BIGINT) AS total_words,
       round(avg(q.quality), 6) AS avg_quality
FROM keep k
JOIN qual q USING (doc_id)
WHERE q.quality >= {QUALITY_MIN}
  AND k.doc_id NOT IN (SELECT doc_id FROM cov WHERE coverage > {COVERAGE_TRIM})
GROUP BY k.lang
"""


QUERIES.update(
    {
        "training_corpus_report": QuerySpec(
            training_corpus_report, _corpus_report_oracle()
        ),
    }
)


# ---------------------------------------------------------------------------
# Unigram LM quality score (CCNet-style perplexity filter analogue,
# Wenzek et al. 2020) — score each document by the mean information
# content (bits/token) of its tokens under the corpus's OWN unigram
# LM. High bits/token = tokens rare in this corpus = off-distribution
# document; the standard pretraining quality gate when a real KenLM
# isn't in the loop.
# ---------------------------------------------------------------------------

# Keep threshold in bits/token: documents whose mean surprisal
# exceeds this are flagged for drop (tuned so both classes appear on
# the synthetic corpus; real pipelines sweep it against held-out
# quality labels).
LOGPROB_MAX_BITS = 5.2


def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean -log2 p(token) under the corpus unigram MLE.

    Plan shape: one explode (narrow) → vocab groupBy (one shuffle on
    the word key, partial aggregation map-side) → token×vocab equi
    join on the word — at 100 TB the vocab is ~millions of rows, so
    the join is left to AQE (broadcast when small, shuffle otherwise)
    — → per-doc agg. The corpus total rides along as a broadcast
    1-row cross join, never a driver scalar.
    """
    docs = _docs(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(_words(F.col("text"))).alias("w"))
    vocab = tok.groupBy("w").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").cast("double").alias("n_total"))
    bits = -F.log2(F.col("c") / F.col("n_total"))
    return (
        tok.join(vocab, "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(bits), 6).alias("bits_per_token"),
            F.count("*").alias("n_tokens"),
        )
        .withColumn("keep", F.col("bits_per_token") <= F.lit(LOGPROB_MAX_BITS))
    )


UNIGRAM_LOGPROB_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents
), vocab AS (
  SELECT w, count(*) AS c FROM tok GROUP BY 1
), tot AS (
  SELECT CAST(sum(c) AS DOUBLE) AS n_total FROM vocab
)
SELECT doc_id,
       round(avg(-log2(c / n_total)), 6) AS bits_per_token,
       count(*) AS n_tokens,
       round(avg(-log2(c / n_total)), 6) <= {LOGPROB_MAX_BITS} AS keep
FROM tok JOIN vocab USING (w), tot
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Vocabulary head coverage — the tokenizer-prep question "how much of
# the corpus do the top-K tokens cover?" (vocab sizing / OOV-rate
# planning).
# ---------------------------------------------------------------------------

VOCAB_TOP_K = 25


def vocab_head_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K corpus tokens with rank and cumulative coverage.

    Scale shape: the global ORDER BY c is applied AFTER a LIMIT-style
    top-K (orderBy+limit compiles to TakeOrderedAndProject — a
    per-partition top-K then a K-row driver merge, never a full
    sort), so the only unpartitioned window runs over exactly K rows.
    The corpus total joins in as a broadcast 1-row aggregate.
    """
    tok = _docs(spark, sf_dir).select(
        F.explode(_words(F.col("text"))).alias("w")
    )
    vocab = tok.groupBy("w").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").cast("double").alias("n_total"))
    top = vocab.orderBy(F.desc("c"), "w").limit(VOCAB_TOP_K)
    w_rank = W.orderBy(F.desc("c"), "w")
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .withColumn(
            "coverage",
            F.round(
                F.sum("c").over(
                    w_rank.rowsBetween(W.unboundedPreceding, 0)
                )
                / F.col("n_total"),
                6,
            ),
        )
        .select(F.col("w").alias("token"), F.col("c").alias("freq"),
                "rank", "coverage")
    )


VOCAB_COVERAGE_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents
), vocab AS (
  SELECT w, count(*) AS c FROM tok GROUP BY 1
), tot AS (
  SELECT CAST(sum(c) AS DOUBLE) AS n_total FROM vocab
), top AS (
  SELECT w, c FROM vocab ORDER BY c DESC, w LIMIT {VOCAB_TOP_K}
)
SELECT w AS token, c AS freq,
       CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS rank,
       round(sum(c) OVER (ORDER BY c DESC, w ROWS UNBOUNDED PRECEDING)
             / n_total, 6) AS coverage
FROM top, tot
"""


QUERIES.update(
    {
        "unigram_logprob_quality": QuerySpec(
            unigram_logprob_quality, UNIGRAM_LOGPROB_ORACLE
        ),
        "vocab_head_coverage": QuerySpec(
            vocab_head_coverage, VOCAB_COVERAGE_ORACLE
        ),
    }
)


# ---------------------------------------------------------------------------
# CCNet perplexity bucketing, SKETCH-CUTOFF scale twin (Wenzek et
# al. 2020): split each language's documents into head/middle/tail
# by LM cross-entropy terciles. The exact twin below
# (ccnet_perplexity_buckets) assigns buckets with ntile(3) over a
# per-language window — exact, but each language partition sorts
# corpus/|L| rows, the same skewed-partition shape the
# topk/topk_pruned twins bracket. THIS variant is the 100 TB path:
# tercile cutoffs come from the DETERMINISTIC grouped quantile
# sketch (≤QSK_GROUP_CAP retained rows per language, capacity-
# bounded windows only) and bucketing is a per-row CASE against two
# broadcast scalars per language — approximate at the boundary
# (~1/√64 rank error), exact in both engines, so the oracle replays
# the cutoffs bit-for-bit. Scoring uses the unigram LM (the ladder's
# cheap rung) and emits PER-DOC assignments, the column a real
# pipeline writes back; the exact twin emits the per-(lang, bucket)
# certification report.
#
# Plan shape: bits is the unigram lane (one explode, one vocab
# shuffle, one per-doc agg); the sketch side levels one md5 per doc
# and every window is capacity-bounded; bucket assignment is a
# per-row CASE against two broadcast cutoffs per language.
# ---------------------------------------------------------------------------

CCNET_PCTS = (0.3333333333333333, 0.6666666666666666)


def quality_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finmapreduce_spark.queries._qsk_shared import (
        QSK_GROUP_CAP,
        qsk_lvl_col,
    )

    docs = _docs(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(_words(F.col("text"))).alias("w"))
    vocab = tok.groupBy("w").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").cast("double").alias("n_total"))
    bits = (
        tok.join(vocab, "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(-F.log2(F.col("c") / F.col("n_total"))), 6
            ).alias("val")
        )
    )
    base = (
        bits.join(docs.select("doc_id", "lang"), "doc_id")
        .withColumn("lvl", qsk_lvl_col())
        .persist()
    )
    lvlc = base.groupBy("lang", "lvl").agg(F.count("*").alias("c"))
    wcum = (
        W.partitionBy("lang")
        .orderBy(F.desc("lvl"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    thr = (
        lvlc.select("lang", "lvl", F.sum("c").over(wcum).alias("cge"))
        .groupBy("lang")
        .agg(
            F.min(
                F.when(F.col("cge") <= QSK_GROUP_CAP, F.col("lvl"))
            ).alias("L")
        )
    )
    sample = base.join(F.broadcast(thr), "lang").filter(
        F.col("lvl") >= F.col("L")
    )
    wrn = W.partitionBy("lang").orderBy("val", "doc_id")
    wall = W.partitionBy("lang").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    s = sample.select(
        "lang",
        "val",
        F.row_number().over(wrn).alias("rn"),
        F.count("*").over(wall).alias("n_s"),
    )
    pcts = spark.createDataFrame(
        [(p,) for p in CCNET_PCTS], "percentile double"
    )
    cut = (
        s.join(
            F.broadcast(pcts),
            F.col("rn") == F.ceil(F.col("percentile") * F.col("n_s")),
        )
        .groupBy("lang")
        .agg(
            F.min(
                F.when(F.col("percentile") < 0.5, F.col("val"))
            ).alias("c33"),
            F.min(
                F.when(F.col("percentile") > 0.5, F.col("val"))
            ).alias("c67"),
        )
    )
    return base.join(F.broadcast(cut), "lang").select(
        "doc_id",
        "lang",
        F.col("val").alias("bits_per_token"),
        F.when(F.col("val") <= F.col("c33"), F.lit("head"))
        .when(F.col("val") <= F.col("c67"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def _ccnet_oracle() -> str:
    from finmapreduce_spark.queries._qsk_shared import (
        _QSK_TAIL_SQL,
        QSK_GROUP_CAP,
    )

    pcts = ", ".join(repr(p) for p in CCNET_PCTS)
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents
), vocab AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n_total FROM vocab),
bits AS (
  SELECT doc_id, round(avg(-log2(c / n_total)), 6) AS val
  FROM tok JOIN vocab USING (w), tot GROUP BY doc_id
),
base AS (
  SELECT b.doc_id, d.lang, b.val,
         CAST(CASE WHEN tail = 0 THEN 48
                   ELSE 48 - length(bin(tail)) END AS BIGINT) AS lvl
  FROM (SELECT doc_id, val, {_QSK_TAIL_SQL} AS tail FROM bits) b
  JOIN documents d USING (doc_id)
),
lv AS (
  SELECT lang, lvl, sum(c) OVER (PARTITION BY lang ORDER BY lvl DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cge
  FROM (SELECT lang, lvl, count(*) AS c FROM base GROUP BY 1, 2)
),
thr AS (
  SELECT lang, min(CASE WHEN cge <= {QSK_GROUP_CAP} THEN lvl END) AS L
  FROM lv GROUP BY 1
),
samp AS (
  SELECT b.lang, b.doc_id, b.val
  FROM base b JOIN thr t USING (lang) WHERE b.lvl >= t.L
),
s AS (
  SELECT lang, val,
         row_number() OVER (PARTITION BY lang ORDER BY val, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n_s
  FROM samp
),
pct AS (SELECT CAST(unnest([{pcts}]) AS DOUBLE) AS percentile),
cut AS (
  SELECT lang,
         min(CASE WHEN percentile < 0.5 THEN val END) AS c33,
         min(CASE WHEN percentile > 0.5 THEN val END) AS c67
  FROM s JOIN pct ON rn = CAST(ceil(percentile * n_s) AS BIGINT)
  GROUP BY lang
)
SELECT b.doc_id, b.lang, b.val AS bits_per_token,
       CASE WHEN b.val <= c.c33 THEN 'head'
            WHEN b.val <= c.c67 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM base b JOIN cut c USING (lang)
"""


QUERIES.update(
    {
        "quality_ccnet_buckets": QuerySpec(
            quality_ccnet_buckets, _ccnet_oracle()
        ),
    }
)


# ---------------------------------------------------------------------------
# UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
# More Effective Language Sampling for Large-Scale Multilingual
# Pretraining"): spread a token budget as uniformly as possible
# across domains subject to a per-domain epoch cap — the principled
# alternative to temperature sampling (sample_temperature_mix) and
# the loss-driven DoReMi (mixture_doremi_weights), completing the
# mixture family's three production recipes. The sequential
# water-filling has a closed form over caps sorted ascending: domain
# i (with prefix cap sum S_{i-1} and n-i+1 domains at or above it)
# caps out iff cap_i·(n-i+1) + S_{i-1} ≤ B; every uncapped domain
# gets the water level θ = (B - Σ_capped cap) / n_uncapped.
#
# Scale shape: ONE corpus pass (per-source token counts with map-side
# combine); everything after runs on the |domains|-row table — the
# windows are domain-sized (the monthly-histogram exemption), the
# funnel scalars broadcast.
# ---------------------------------------------------------------------------

UNIMAX_EPOCH_CAP = 1
UNIMAX_BUDGET_FRAC = 0.9  # high enough that small domains hit the epoch cap


def mixture_unimax_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    # persisted: the |domains|-row count table feeds four plan
    # branches (total, flags, water-level aggregate, output) — without
    # the cache each branch re-derives the CORPUS pass (8 parquet
    # scans in the static plan, no ReusedExchange), which is the
    # difference between 1 and 4 full reads at 100 TB. Lifecycle is
    # caller-owned per the catalog-wide clearCache contract.
    cnt = (
        docs.select(
            "source", F.size(_words(F.col("text"))).cast("long").alias("n")
        )
        .groupBy("source")
        .agg(F.sum("n").alias("n_tokens"))
        .persist()
    )
    tot = cnt.agg(F.sum("n_tokens").cast("double").alias("n_total"))
    base = (
        cnt.crossJoin(F.broadcast(tot))
        .withColumn(
            "cap",
            (F.col("n_tokens") * F.lit(UNIMAX_EPOCH_CAP)).cast("long"),
        )
        .withColumn(
            "budget", F.col("n_total") * F.lit(UNIMAX_BUDGET_FRAC)
        )
    )
    w = W.orderBy("cap", "source")
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    t = (
        base.select(
            "source",
            "n_tokens",
            "cap",
            "budget",
            F.row_number().over(w).alias("i"),
            F.coalesce(
                F.sum("cap").over(w.rowsBetween(W.unboundedPreceding, -1)),
                F.lit(0),
            ).alias("s_prev"),
            F.count("*").over(wall).alias("n"),
        )
        .withColumn(
            "is_capped",
            F.col("cap") * (F.col("n") - F.col("i") + 1) + F.col("s_prev")
            <= F.col("budget"),
        )
    )
    lvl = t.agg(
        F.coalesce(
            F.sum(F.when(F.col("is_capped"), F.col("cap"))), F.lit(0)
        ).alias("s_k"),
        F.sum(F.col("is_capped").cast("long")).alias("k"),
    )
    return (
        t.crossJoin(F.broadcast(lvl))
        .withColumn(
            "alloc_tokens",
            F.round(
                F.when(F.col("is_capped"), F.col("cap").cast("double"))
                .otherwise(
                    (F.col("budget") - F.col("s_k"))
                    / (F.col("n") - F.col("k"))
                ),
                6,
            ),
        )
        .select(
            "source",
            "n_tokens",
            F.col("cap").alias("cap_tokens"),
            "alloc_tokens",
            F.round(F.col("alloc_tokens") / F.col("n_tokens"), 6).alias(
                "epochs"
            ),
        )
    )


UNIMAX_ORACLE = f"""
WITH cnt AS (
  SELECT source,
         CAST(sum(len(string_split_regex(trim(lower(text)), '\\s+')))
              AS BIGINT) AS n_tokens
  FROM documents WHERE text IS NOT NULL
  GROUP BY source
), tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS n_total FROM cnt),
base AS (
  SELECT source, n_tokens,
         CAST(n_tokens * {UNIMAX_EPOCH_CAP} AS BIGINT) AS cap,
         n_total * {UNIMAX_BUDGET_FRAC} AS budget
  FROM cnt, tot
),
t AS (
  SELECT *,
         row_number() OVER (ORDER BY cap, source) AS i,
         coalesce(sum(cap) OVER (ORDER BY cap, source
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS s_prev,
         count(*) OVER () AS n
  FROM base
),
flag AS (
  SELECT *, cap * (n - i + 1) + s_prev <= budget AS is_capped FROM t
),
lvl AS (
  SELECT coalesce(sum(CASE WHEN is_capped THEN cap END), 0) AS s_k,
         coalesce(sum(CASE WHEN is_capped THEN 1 ELSE 0 END), 0) AS k
  FROM flag
)
SELECT source, n_tokens, cap AS cap_tokens,
       round(CASE WHEN is_capped THEN CAST(cap AS DOUBLE)
                  ELSE (budget - s_k) / (n - k) END, 6) AS alloc_tokens,
       round(round(CASE WHEN is_capped THEN CAST(cap AS DOUBLE)
                        ELSE (budget - s_k) / (n - k) END, 6)
             / n_tokens, 6) AS epochs
FROM flag, lvl
"""

QUERIES.update(
    {
        "mixture_unimax_allocation": QuerySpec(
            mixture_unimax_allocation, UNIMAX_ORACLE
        ),
    }
)


# ---------------------------------------------------------------------------
# Bigram-LM perplexity quality — the step above the unigram MLE on
# the CCNet ladder (CCNet scores wikipedia-LM perplexity per doc;
# here the corpus is its own LM): per-doc mean -log2 P(w2 | w1) under
# add-one smoothing, P = (c(w1,w2)+1) / (c(w1·)+V), with c(w1·) the
# bigram-left total (Σ_w2 c(w1,w2), so probabilities condition on
# exactly the event space they normalize over) and V the distinct
# second-word vocabulary. Repetitive/templated text scores LOW bits
# (its bigrams dominate the table), incoherent word salad scores
# HIGH — the keep flag is the band filter.
# ---------------------------------------------------------------------------

BIGRAM_MAX_BITS = 12.0


def text_bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc bigram cross-entropy under the corpus's own smoothed
    bigram LM.

    Plan shape: ONE words materialization (the shingle O(n) lesson)
    → bigram explode (narrow) → the event table PERSISTS (it feeds
    four consumers — the per-doc events, both count tables, and V;
    left lazy the plan re-scans and re-explodes the corpus 4×,
    which is the difference between one and four corpus passes at
    100 TB; lifecycle is caller-owned per the catalog-wide
    clearCache contract) → two count shuffles (pair key, left key —
    both partial-agg'd map-side) → doc-bigrams join the two count
    tables on their keys (AQE broadcasts when the tables are small;
    at 100 TB they are corpus-level aggregates ~|bigram vocab| rows,
    shuffle-joined on uniform hashed keys) → per-doc agg. V rides
    along as a broadcast 1-row aggregate. Docs with < 2 words have
    no bigram event and drop from the report in both engines (the
    Spark guard is load-bearing: sequence(1, 0) DESCENDS, and a
    [NULL]-element pair list would make NULL-text docs matchable)."""
    # NO scan-parallelism floor (see the trigram lane's measured
    # counter-case: unique-ish n-gram keys defeat partial agg when
    # the map side fans out)
    docs = _docs(spark, sf_dir)
    w = F.col("__w")
    pair = docs.withColumn("__w", _words(F.col("text"))).select(
        "doc_id",
        F.explode(
            F.when(
                w.isNotNull() & (F.size(w) >= 2),
                F.transform(
                    F.sequence(F.lit(1), F.size(w) - 1),
                    lambda i: F.struct(
                        F.element_at(w, i).alias("w1"),
                        F.element_at(w, i + F.lit(1)).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2").persist()
    pairc = pair.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    leftc = pair.groupBy("w1").agg(F.count("*").alias("c1"))
    vsize = pair.agg(
        F.countDistinct("w2").cast("double").alias("v")
    )
    bits = -F.log2((F.col("c12") + 1) / (F.col("c1") + F.col("v")))
    return (
        pair.join(pairc, ["w1", "w2"])
        .join(leftc, "w1")
        .crossJoin(F.broadcast(vsize))
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(bits), 6).alias("bits_per_token"),
            F.count("*").alias("n_bigrams"),
        )
        .withColumn("keep", F.col("bits_per_token") <= F.lit(BIGRAM_MAX_BITS))
    )


BIGRAM_LM_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM documents WHERE text IS NOT NULL
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws)),
                i -> {{'w1': ws[i], 'w2': ws[i + 1]}})) AS b
  FROM w
), pair AS (
  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg
), pairc AS (
  SELECT w1, w2, count(*) AS c12 FROM pair GROUP BY 1, 2
), leftc AS (
  SELECT w1, count(*) AS c1 FROM pair GROUP BY 1
), vs AS (
  SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS v FROM pair
)
SELECT doc_id,
       round(avg(-log2((c12 + 1) / (c1 + v))), 6) AS bits_per_token,
       count(*) AS n_bigrams,
       round(avg(-log2((c12 + 1) / (c1 + v))), 6) <= {BIGRAM_MAX_BITS} AS keep
FROM pair JOIN pairc USING (w1, w2) JOIN leftc USING (w1), vs
GROUP BY doc_id
"""


QUERIES.update(
    {
        "text_bigram_lm_quality": QuerySpec(
            text_bigram_lm_quality, BIGRAM_LM_ORACLE
        ),
    }
)


# ---------------------------------------------------------------------------
# Interpolated trigram-LM quality — the rung above the bigram on the
# CCNet ladder (real LM filters are ~5-gram; the mechanics are all
# here at order 3): per-doc mean -log2 of the Jelinek-Mercer mixture
# P(w3|w1w2) = λ3·c123/c12· + λ2·c23/c2· + λ1·c3/N with fixed λ =
# (0.6, 0.3, 0.1). Every count conditions on the event space it
# normalizes over — ALL counts derive from the ONE trigram event
# table, so Σ_w3 of each ML term is exactly 1 and, because the
# corpus is its own LM, every event has c123 ≥ 1: the mixture is
# strictly positive with no smoothing edge cases.
# ---------------------------------------------------------------------------

TRIGRAM_LAMBDAS = (0.6, 0.3, 0.1)
TRIGRAM_MAX_BITS = 10.0


def text_trigram_interp_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc interpolated-trigram cross-entropy under the corpus's
    own LM.

    Plan shape: ONE trigram-event materialization, persisted — it
    feeds six consumers (the per-doc events and five count tables);
    left lazy the corpus would re-scan and re-explode 6×. Five count
    shuffles, all partial-agg'd map-side and all over corpus-LEVEL
    aggregate tables (≈ |trigram vocab| rows, not |corpus|); the doc
    events then join each count table on its own key — AQE broadcasts
    the small ones, shuffle-joins the big ones on uniform hashed
    keys — and one per-doc agg finishes. N rides along as a broadcast
    1-row aggregate. Docs with < 3 words have no trigram event and
    drop from the report in both engines (same load-bearing guard as
    the bigram: sequence(1, 0) DESCENDS)."""
    l3, l2, l1 = TRIGRAM_LAMBDAS
    # NO scan-parallelism floor here (measured NET NEGATIVE, round
    # 15): n-gram keys are mostly unique, so the count aggregations'
    # map-side partial agg compresses ~10× better from one map
    # partition than from 32 (shuffle 0.7 → 7.7 MB, wall 1.9 → 3.4 s
    # at sf0.1) — the same trade _cls_features_unlabeled documents. At
    # scale the scan fans out by itself.
    docs = _docs(spark, sf_dir)
    w = F.col("__w")
    ev = (
        docs.withColumn("__w", _words(F.col("text")))
        .select(
            "doc_id",
            F.explode(
                F.when(
                    w.isNotNull() & (F.size(w) >= 3),
                    F.transform(
                        F.sequence(F.lit(1), F.size(w) - 2),
                        lambda i: F.struct(
                            F.element_at(w, i).alias("w1"),
                            F.element_at(w, i + F.lit(1)).alias("w2"),
                            F.element_at(w, i + F.lit(2)).alias("w3"),
                        ),
                    ),
                ).otherwise(
                    F.array().cast(
                        "array<struct<w1:string,w2:string,w3:string>>"
                    )
                )
            ).alias("t"),
        )
        .select("doc_id", "t.w1", "t.w2", "t.w3")
        .persist()
    )
    c123 = ev.groupBy("w1", "w2", "w3").agg(F.count("*").alias("c123"))
    c12 = ev.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c23 = ev.groupBy("w2", "w3").agg(F.count("*").alias("c23"))
    c2 = ev.groupBy("w2").agg(F.count("*").alias("c2"))
    c3 = ev.groupBy("w3").agg(F.count("*").alias("c3"))
    n = ev.agg(F.count("*").cast("double").alias("n_ev"))
    p = (
        F.lit(l3) * (F.col("c123") / F.col("c12"))
        + F.lit(l2) * (F.col("c23") / F.col("c2"))
        + F.lit(l1) * (F.col("c3") / F.col("n_ev"))
    )
    # probability SPINE: assemble p on the DISTINCT-trigram table
    # (every join is |vocab|-sized, star-shaped around c123 with a
    # shared key on each edge), then join the EVENT table exactly
    # once — the event stream pays one join, not five, and no
    # optimizer can be tempted into cross-producting keyless count
    # tables (the DuckDB twin planned exactly that before the spine)
    ptab = (
        c123.join(c12, ["w1", "w2"])
        .join(c23, ["w2", "w3"])
        .join(c2, "w2")
        .join(c3, "w3")
        .crossJoin(F.broadcast(n))
        .select("w1", "w2", "w3", p.alias("p"))
    )
    return (
        ev.join(ptab, ["w1", "w2", "w3"])
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(-F.log2(F.col("p"))), 6).alias("bits_per_token"),
            F.count("*").alias("n_trigrams"),
        )
        .withColumn("keep", F.col("bits_per_token") <= F.lit(TRIGRAM_MAX_BITS))
    )


TRIGRAM_LM_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM documents WHERE text IS NOT NULL
), tg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws) - 1),
                i -> {{'w1': ws[i], 'w2': ws[i + 1], 'w3': ws[i + 2]}})) AS t
  FROM w
), ev AS (
  SELECT doc_id, t.w1 AS w1, t.w2 AS w2, t.w3 AS w3 FROM tg
), c123 AS (SELECT w1, w2, w3, count(*) AS c123 FROM ev GROUP BY 1, 2, 3),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM ev GROUP BY 1, 2),
c23 AS (SELECT w2, w3, count(*) AS c23 FROM ev GROUP BY 1, 2),
c2 AS (SELECT w2, count(*) AS c2 FROM ev GROUP BY 1),
c3 AS (SELECT w3, count(*) AS c3 FROM ev GROUP BY 1),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_ev FROM ev),
ptab AS (
  -- probability spine on the DISTINCT-trigram table; n_ev enters as
  -- a scalar subquery, NOT a comma cross join — with the comma join
  -- present DuckDB's optimizer cross-producted ALL the count tables
  -- as one hash-join build side (100 GB on 26k events)
  SELECT w1, w2, w3,
         {TRIGRAM_LAMBDAS[0]} * (c123 / c12)
           + {TRIGRAM_LAMBDAS[1]} * (c23 / c2)
           + {TRIGRAM_LAMBDAS[2]} * (c3 / (SELECT n_ev FROM n)) AS p
  FROM c123 JOIN c12 USING (w1, w2) JOIN c23 USING (w2, w3)
            JOIN c2 USING (w2) JOIN c3 USING (w3)
)
SELECT doc_id,
       round(avg(-log2(p)), 6) AS bits_per_token,
       count(*) AS n_trigrams,
       round(avg(-log2(p)), 6) <= {TRIGRAM_MAX_BITS} AS keep
FROM ev JOIN ptab USING (w1, w2, w3)
GROUP BY doc_id
"""


def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's partitioning step: per language, split documents into
    head/middle/tail THIRDS by LM cross-entropy (head = lowest bits =
    most fluent; CCNet keeps head+middle for pretraining, tail for
    inspection). Buckets come from ntile(3) over (bits, doc_id) — the
    doc_id tiebreak makes the integer row-split deterministic across
    engines — and the report is per-(lang, bucket) counts with the
    bits range.

    Scale: the expensive part is the trigram scorer (one event-table
    pass, shared plan); the bucketing adds one per-lang window (L
    independent sorted runs) and a tiny agg. The per-doc bucket
    assignment — what a real pipeline writes back as a column — is
    the window's direct output; this report certifies it compactly."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    bits = text_trigram_interp_quality(spark, sf_dir).select(
        "doc_id", "bits_per_token"
    )
    w = W.partitionBy("lang").orderBy("bits_per_token", "doc_id")
    bucket = F.element_at(
        F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
        F.ntile(3).over(w),
    )
    return (
        docs.join(bits, "doc_id")
        .withColumn("bucket", bucket)
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.min("bits_per_token"), 6).alias("min_bits"),
            F.round(F.max("bits_per_token"), 6).alias("max_bits"),
            F.round(F.avg("bits_per_token"), 6).alias("mean_bits"),
        )
    )


CCNET_BUCKETS_ORACLE = f"""
WITH bits AS ({TRIGRAM_LM_ORACLE}),
assigned AS (
  SELECT d.lang, b.bits_per_token,
         ['head', 'middle', 'tail'][
           ntile(3) OVER (PARTITION BY d.lang
                          ORDER BY b.bits_per_token, b.doc_id)] AS bucket
  FROM documents d JOIN bits b ON d.doc_id = b.doc_id
)
SELECT lang, bucket, count(*) AS n_docs,
       round(min(bits_per_token), 6) AS min_bits,
       round(max(bits_per_token), 6) AS max_bits,
       round(avg(bits_per_token), 6) AS mean_bits
FROM assigned GROUP BY lang, bucket
"""


QUERIES.update(
    {
        "text_trigram_interp_quality": QuerySpec(
            text_trigram_interp_quality, TRIGRAM_LM_ORACLE
        ),
        "ccnet_perplexity_buckets": QuerySpec(
            ccnet_perplexity_buckets, CCNET_BUCKETS_ORACLE
        ),
    }
)


# ---------------------------------------------------------------------------
# Distributed BPE tokenizer training (Sennrich et al. 2016, the merge
# loop every modern tokenizer trainer runs): iterate K times — count
# adjacent token pairs over the corpus, pick the global argmax pair,
# merge it everywhere.
#
# Spark shape per merge round: one explode+groupBy with map-side
# combine over the DISTINCT-WORD table (weights = word frequencies, so
# the pair count shuffle carries |vocab| rows, not |corpus|), a
# TakeOrdered of the top BPE_CAND_WINDOW ranked pairs (the merge table
# IS the model — a bounded handful of rows to the driver per round,
# exactly the k-means centroid pattern), then a narrow JVM replace
# pass to apply the round's merges. ONE loop (_bpe_train_batched)
# trains every lane: batch=1 takes the argmax each round (sequential
# BPE, the bpe_train_merges family), batch=M the top-M batched
# variant below. K rounds = K cheap shuffles; at 100 TB the
# distinct-word compression is what makes this tractable (corpus →
# |vocab| ≈ millions of rows).
#
# Exact SQL oracle: the K iterations unroll as CTEs (same technique
# as the k-means oracle). Merge application is defined as THREE
# left-to-right non-overlapping replace passes of " a b " → " ab "
# on the space-padded token string — identical semantics in Spark's
# replace(), DuckDB's replace(), and Python str.replace, and three
# passes fully merge any run the sampled pair can produce (a
# documented bounded-pass BPE variant; Spark and the DuckDB oracle
# compute the identical result, which is what the value-hash checks).
# ---------------------------------------------------------------------------

BPE_MERGES = 3
BPE_MAX_WORD_LEN = 16


def _bpe_words(spark: SparkSession, sf_dir: str, docs: DataFrame | None = None):
    docs = docs if docs is not None else _docs(spark, sf_dir)
    return (
        docs.select(
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w")
        )
        .filter((F.col("w") != "") & (F.length("w") <= BPE_MAX_WORD_LEN))
        .groupBy("w")
        .agg(F.count("*").alias("weight"))
    )


def _bpe_char_toks(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
):
    words = _bpe_words(spark, sf_dir, docs)
    # char-tokenized, space-joined ("(?<=.)(?=.)" splits BETWEEN
    # characters — no trailing empty token, matching SQL's split-by-'')
    return words.select(
        F.concat_ws(" ", F.split("w", "(?<=.)(?=.)")).alias("s"), "weight"
    )


def _bpe_pair_counts(toks: DataFrame) -> DataFrame:
    # Materialize the token split before the pair lambda references
    # it (round-15): the inline split inside the transform lambda was
    # re-evaluated PER PAIR (the _shingles_of trap, dedup.py:62) —
    # this is the trainers' per-round inner loop.
    toks = toks.withColumn("__t", F.split("s", " "))
    t = F.col("__t")
    # guard: sequence(1, 0) DESCENDS in Spark, so single-token
    # words must short-circuit to an empty pair list
    pair_list = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat(
                F.element_at(t, i), F.lit(" "), F.element_at(t, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        toks.select(F.explode(pair_list).alias("pair"), "weight")
        .groupBy("pair")
        .agg(F.sum("weight").alias("cnt"))
    )


def _bpe_apply_merges(toks: DataFrame, pairs: list[str]) -> DataFrame:
    """Narrow JVM replace pass applying each ``"a b"`` pair in order
    (three bounded left-to-right passes per pair — see module note)."""
    applied = F.concat(F.lit(" "), F.col("s"), F.lit(" "))
    for pair in pairs:
        merged = pair.replace(" ", "")
        for _ in range(3):
            applied = F.replace(
                applied, F.lit(f" {pair} "), F.lit(f" {merged} ")
            )
    return toks.select(F.trim(applied).alias("s"), "weight")


# Top-M batched merge rounds: the standard driver-round-trip cut for
# real vocab sizes (|vocab| merges → |vocab|/M corpus-count rounds).
# Per round ONE pair-count shuffle runs over the corpus-compressed
# word table, the top-CAND_WINDOW ranked candidates come to the
# driver (bounded, deterministic), and a greedy scan picks up to M
# pairs under FULL-CLOSURE disjointness: a candidate is taken only if
# {left, right, merged} is disjoint from every earlier pick's
# {left, right, merged}. Sides-only disjointness is NOT enough —
# " a b "→" ab " and " ab x "→" abx " have disjoint sides but do not
# commute (the first creates tokens the second then consumes), and
# batched application must be order-independent to be deterministic.
# Under full closure no pick can create, destroy, or retarget another
# pick's occurrences, so the in-batch replaces commute and each
# reported pair_count equals what sequential training would have
# counted for that pair. The batch SELECTION can still diverge from
# sequential BPE (a merge's newly created pairs never compete within
# the same round) — M=1 (`bpe_train_merges`: the same loop, one pick
# per round, so exactly sequential BPE) stays the reference; tests
# measure the fixture-corpus agreement.

BPE_BATCH_ROUNDS = 2
BPE_BATCH_M = 2
BPE_CAND_WINDOW = 64  # ranked candidates scanned per round (both engines)
BPE_CKPT_EVERY = 8  # rounds between lineage-truncating checkpoints


def _bpe_train_batched(
    spark: SparkSession,
    sf_dir: str,
    rounds: int = BPE_BATCH_ROUNDS,
    batch: int = BPE_BATCH_M,
    docs: DataFrame | None = None,
    cand_window: int = BPE_CAND_WINDOW,
):
    """Run ``rounds`` merge rounds of up to ``batch`` merges each; →
    (merge rows, final tokenized word table). batch=1 is sequential
    BPE. Caller owns unpersisting the returned DataFrame."""
    toks = _bpe_char_toks(spark, sf_dir, docs).persist()
    rows = []
    last_ckpt = None  # newest checkpoint generation; predecessors released
    for r in range(1, rounds + 1):
        cand = (
            _bpe_pair_counts(toks)
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(cand_window)
            .collect()
        )
        chosen: list[tuple[int, str, int]] = []
        used: set[str] = set()
        for row in cand:
            a, b = row["pair"].split(" ")
            merged = row["pair"].replace(" ", "")
            if {a, b, merged} & used:
                continue
            # merge_rank slots are fixed per round (2r-1, 2r for M=2)
            # so a skipped slot cannot shift later rounds' ranks —
            # the SQL oracle numbers them the same way
            chosen.append(
                (batch * (r - 1) + len(chosen) + 1, row["pair"], int(row["cnt"]))
            )
            used |= {a, b, merged}
            if len(chosen) == batch:
                break
        if not chosen:
            # vocabulary exhausted (every word is one token, or the
            # candidate window closed over itself) — same terminal
            # condition as the pure-Python twin
            break
        rows.extend(
            (rk, pair, pair.replace(" ", ""), cnt) for rk, pair, cnt in chosen
        )
        nxt = _bpe_apply_merges(toks, [pair for _, pair, _c in chosen])
        # Lineage truncation (same pattern as the CC rounds in
        # queries/dedup.py): vocab-scale runs iterate for MANY rounds,
        # and chained persists keep the whole replace-expression
        # lineage in every task binary — ~60 rounds deep it
        # StackOverflows task DEserialization and takes the
        # SparkContext down. iter_checkpoint every few rounds cuts the
        # chain (local blocks; FMR_CHECKPOINT_DIR upgrades to reliable
        # checkpoint(dir) for cluster fault tolerance); persist covers
        # the rounds in between. A superseded checkpoint generation is
        # released (blocking) only once the NEXT one is eagerly
        # materialized — the persisted rounds in between read through
        # it, and checkpointing truncated their lineage, so an earlier
        # release would destroy the only copy. The FINAL generation
        # stays pinned for the caller (bpe_apply_compression reads
        # toks downstream); acceptable: the table is the DISTINCT-WORD
        # vocabulary (corpus-compressed, ~|vocab| rows at any corpus
        # size), KBs locally / MBs at 100 TB, not corpus-sized.
        if r % BPE_CKPT_EVERY == 0:
            nxt = iter_checkpoint(nxt)
            release_iter_checkpoint(last_ckpt)
            last_ckpt = nxt
        else:
            nxt = nxt.persist()
        toks.unpersist()
        toks = nxt
    return rows, toks


def bpe_train_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows, toks = _bpe_train_batched(spark, sf_dir)
    toks.unpersist()
    return spark.createDataFrame(
        rows, "merge_rank int, pair string, merged string, pair_count long"
    )


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows, toks = _bpe_train_batched(spark, sf_dir, rounds=BPE_MERGES, batch=1)
    toks.unpersist()
    return spark.createDataFrame(
        rows, "merge_rank int, pair string, merged string, pair_count long"
    )


def bpe_apply_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→apply tokenizer lifecycle in one plan: after the learned
    merges are applied everywhere, report the corpus-level compression
    — tokens before (= characters of the filtered words) vs after,
    frequency-weighted. The apply side is the narrow JVM replace pass;
    the summary is a single map-side-combined agg."""
    _, toks = _bpe_train_batched(spark, sf_dir, rounds=BPE_MERGES, batch=1)
    out = toks.agg(
        F.count("*").alias("n_distinct_words"),
        F.sum("weight").cast("long").alias("n_words"),
        F.sum(
            F.col("weight")
            * (F.length("s") - F.length(F.replace("s", F.lit(" "), F.lit(""))) + 1)
        )
        .cast("long")
        .alias("tokens_after"),
        F.sum(
            F.col("weight") * F.length(F.replace("s", F.lit(" "), F.lit("")))
        )
        .cast("long")
        .alias("tokens_before"),
    ).select(
        "n_distinct_words",
        "n_words",
        "tokens_before",
        "tokens_after",
        F.round(F.col("tokens_after") / F.col("tokens_before"), 6).alias(
            "compression"
        ),
    )
    # NOTE: toks stays persisted — the returned plan references it and
    # the driver executes lazily; it is a |vocab|-row table.
    return out


def _bpe_apply_sql(trel: str, mrel: str) -> str:
    rep = f"' ' || {trel}.s || ' '"
    for _ in range(3):
        rep = (
            f"replace({rep}, ' ' || (SELECT pair FROM {mrel}) || ' ', "
            f"' ' || (SELECT merged FROM {mrel}) || ' ')"
        )
    return f"SELECT trim({rep}) AS s, weight FROM {trel}"


def _bpe_top_sql(trel: str) -> str:
    return f"""
  SELECT pair, CAST(sum(weight) AS BIGINT) AS cnt,
         replace(pair, ' ', '') AS merged
  FROM (
    SELECT unnest(list_transform(range(1, len(string_split(s, ' '))),
                  i -> string_split(s, ' ')[i] || ' ' || string_split(s, ' ')[i + 1]
           )) AS pair,
           weight
    FROM {trel}
  ) GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1
"""


BPE_ORACLE = f"""
WITH words AS (
  SELECT w, count(*) AS weight FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
    FROM documents
  ) WHERE w <> '' AND length(w) <= {BPE_MAX_WORD_LEN}
  GROUP BY w
),
t0 AS (SELECT array_to_string(string_split(w, ''), ' ') AS s, weight FROM words),
m1 AS ({_bpe_top_sql('t0')}),
t1 AS ({_bpe_apply_sql('t0', 'm1')}),
m2 AS ({_bpe_top_sql('t1')}),
t2 AS ({_bpe_apply_sql('t1', 'm2')}),
m3 AS ({_bpe_top_sql('t2')})
SELECT 1 AS merge_rank, pair, merged, cnt AS pair_count FROM m1
UNION ALL
SELECT 2, pair, merged, cnt FROM m2
UNION ALL
SELECT 3, pair, merged, cnt FROM m3
"""


QUERIES.update(
    {
        "bpe_train_merges": QuerySpec(bpe_train_merges, BPE_ORACLE),
    }
)


def _bpe_cand_sql(trel: str) -> str:
    """Ranked pair-count candidates (rk = the Spark orderBy) limited
    to the shared CAND_WINDOW so both engines scan the identical
    bounded list."""
    return f"""
  SELECT pair, cnt, merged, row_number() OVER (ORDER BY cnt DESC, pair) AS rk
  FROM (
    SELECT pair, CAST(sum(weight) AS BIGINT) AS cnt,
           replace(pair, ' ', '') AS merged
    FROM (
      SELECT unnest(list_transform(range(1, len(string_split(s, ' '))),
                    i -> string_split(s, ' ')[i] || ' ' || string_split(s, ' ')[i + 1]
             )) AS pair,
             weight
      FROM {trel}
    ) GROUP BY pair ORDER BY cnt DESC, pair LIMIT {BPE_CAND_WINDOW}
  )
"""


def _bpe_apply_batch_sql(trel: str, mrels: list[str]) -> str:
    """Apply each (possibly empty) 1-row merge relation in order;
    chr(1) can never match a lowercase-alpha token stream, so an
    empty c2 degenerates to a no-op replace."""
    rep = f"' ' || {trel}.s || ' '"
    for mrel in mrels:
        for _ in range(3):
            rep = (
                f"replace({rep}, "
                f"' ' || (SELECT coalesce(min(pair), chr(1)) FROM {mrel}) || ' ', "
                f"' ' || (SELECT coalesce(min(merged), chr(1)) FROM {mrel}) || ' ')"
            )
    return f"SELECT trim({rep}) AS s, weight FROM {trel}"


def _bpe_batched_oracle() -> str:
    # the c1/c2 two-pick CTE structure and the 2r-1/2r rank literals
    # below hardwire M=2; changing BPE_BATCH_M must extend the oracle
    # in lockstep or the catalog sweep fails as an opaque hash
    # mismatch
    assert BPE_BATCH_M == 2, "batched-BPE oracle models exactly M=2 picks"
    ctes = []
    prev = "t0"
    selects = []
    for r in range(1, BPE_BATCH_ROUNDS + 1):
        ctes.append(f"""
cand{r} AS ({_bpe_cand_sql(prev)}),
c1_{r} AS (SELECT * FROM cand{r} WHERE rk = 1),
u1_{r} AS (
  SELECT string_split(pair, ' ')[1] AS t FROM c1_{r}
  UNION ALL SELECT string_split(pair, ' ')[2] FROM c1_{r}
  UNION ALL SELECT merged FROM c1_{r}
),
c2_{r} AS (
  SELECT * FROM cand{r} WHERE rk = (
    SELECT min(rk) FROM cand{r} c
    WHERE c.rk > 1
      AND string_split(c.pair, ' ')[1] NOT IN (SELECT t FROM u1_{r})
      AND string_split(c.pair, ' ')[2] NOT IN (SELECT t FROM u1_{r})
      AND c.merged NOT IN (SELECT t FROM u1_{r})
  )
),
t{r} AS ({_bpe_apply_batch_sql(prev, [f"c1_{r}", f"c2_{r}"])}),""")
        selects.append(
            f"SELECT {2 * (r - 1) + 1} AS merge_rank, pair, merged,"
            f" cnt AS pair_count FROM c1_{r}\n"
            f"UNION ALL SELECT {2 * r}, pair, merged, cnt FROM c2_{r}"
        )
        prev = f"t{r}"
    return f"""
WITH words AS (
  SELECT w, count(*) AS weight FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
    FROM documents
  ) WHERE w <> '' AND length(w) <= {BPE_MAX_WORD_LEN}
  GROUP BY w
),
t0 AS (SELECT array_to_string(string_split(w, ''), ' ') AS s, weight FROM words),{"".join(ctes)}
dummy AS (SELECT 1)
{" UNION ALL ".join(selects)}
"""


BPE_BATCHED_ORACLE = _bpe_batched_oracle()

QUERIES.update(
    {
        "bpe_train_merges_batched": QuerySpec(
            bpe_train_merges_batched, BPE_BATCHED_ORACLE
        ),
    }
)


BPE_APPLY_ORACLE = f"""
WITH words AS (
  SELECT w, count(*) AS weight FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
    FROM documents
  ) WHERE w <> '' AND length(w) <= {BPE_MAX_WORD_LEN}
  GROUP BY w
),
t0 AS (SELECT array_to_string(string_split(w, ''), ' ') AS s, weight FROM words),
m1 AS ({_bpe_top_sql('t0')}),
t1 AS ({_bpe_apply_sql('t0', 'm1')}),
m2 AS ({_bpe_top_sql('t1')}),
t2 AS ({_bpe_apply_sql('t1', 'm2')}),
m3 AS ({_bpe_top_sql('t2')}),
t3 AS ({_bpe_apply_sql('t2', 'm3')})
SELECT CAST(count(*) AS BIGINT) AS n_distinct_words,
       CAST(sum(weight) AS BIGINT) AS n_words,
       CAST(sum(weight * length(replace(s, ' ', ''))) AS BIGINT) AS tokens_before,
       CAST(sum(weight * (length(s) - length(replace(s, ' ', '')) + 1)) AS BIGINT)
         AS tokens_after,
       round(sum(weight * (length(s) - length(replace(s, ' ', '')) + 1)) * 1.0
             / sum(weight * length(replace(s, ' ', ''))), 6) AS compression
FROM t3
"""


QUERIES.update(
    {
        "bpe_apply_compression": QuerySpec(bpe_apply_compression, BPE_APPLY_ORACLE),
    }
)


# ---------------------------------------------------------------------------
# Tokenizer-exact document chunking with the in-engine-trained BPE
# (F2 exact variant, driver-witnessed): the reference chunks in
# tiktoken tokens (document_processing.py:246-267); here the tokenizer
# is the engine's OWN trained merge list and the whole
# tokenize→chunk pipeline is JVM string expressions — no Python in
# the corpus path, whole-stage codegen end to end.
#
# Encoding semantics (identical in both engines, and pinned equal to
# functions/mini_bpe.py::MergesBPE on real corpus text in
# tests/test_exact_tokens.py): text splits into maximal [a-z]+ vs
# other runs; letter runs are char-split, sentinel-joined (chr(30),
# stripped from input first), and each merge applies in rank order
# as THREE bounded left-to-right replace passes — the exact
# bounded-pass BPE variant the trainer itself is certified with.
# Non-letter runs are one token per char, so tokens PARTITION the
# text and a chunk is the literal substring its token slice covers.
#
# Chunk arithmetic mirrors functions/chunking.py::chunk_plan in token
# space: step = size − overlap, n_chunks = 1 if n ≤ size else
# ceil((n − size)/step) + 1, chunk i = tokens[i·step, i·step + size).
# ---------------------------------------------------------------------------

BPE_CHUNK_SIZE = 512
BPE_CHUNK_OVERLAP = 64
_RS = "\x1e"  # token delimiter; cannot appear in tokens (stripped)


# Measured ceiling for the JVM replace chain (one nested F.replace
# per merge): 200 merges compiles and runs fine (0.9 s warm over
# sf0.01 documents, ~2× faster than the Arrow MergesBPE UDF, token
# totals identical), but ~500 merges StackOverflows Catalyst's
# recursive expression converter at PLAN BUILD time. Production
# vocabularies (tens of thousands of merges) must use the
# Arrow-batched MergesBPE UDF (dict-based rank lookup) instead.
_JVM_BPE_MAX_MERGES = 256


def _bpe_tokens_col(text_col, merges: list[tuple[str, str]]):
    """array<string> token column — pure JVM expressions.

    Loud guard: above ~{max} merges the nested replace chain blows the
    JVM stack while Catalyst converts the expression tree (measured:
    200 OK, 500 StackOverflowError) — callers with real vocabularies
    should encode via functions/mini_bpe.py::MergesBPE in an
    Arrow-batched UDF, which handles any merge count.

    PRECONDITION (round-9 advice #1): ``merges`` must be CAUSALLY
    ORDERED — each pair's components are single characters or the
    output of an EARLIER entry, which every trained merge list
    satisfies by construction. One replace pass per merge in list
    order equals MergesBPE's rank-greedy loop only under that order;
    a hand-built list where an early pair references a later merge's
    output (e.g. [(a,bb),(b,b)] on 'abb') silently diverges
    (a|bb here vs abb from MergesBPE). Asserted below.

    Merge application is EXACT greedy BPE (bit-identical to
    functions/mini_bpe.py::MergesBPE) via the doubled-separator
    trick: tokens are joined by TWO sentinels and each merge pattern
    carries only ONE sentinel at its outer edges, so a match consumes
    the inner half of each boundary and the replacement restores it —
    adjacent occurrences of a left==right pair no longer overlap on a
    shared delimiter, and ONE leftmost-nonoverlapping replace pass
    per merge equals exhaustive greedy merging (a merge can never
    recreate an occurrence of itself: merging produces the fused
    token, not its parts). The naive single-sentinel 3-pass form
    diverged from greedy on repeated-char runs ('a'*10 under (a,a):
    6 tokens vs greedy's 5 — round-9 review finding #4).

    The char split carries (?s) so line terminators split like every
    other character (Java '.' excludes \\n by default; finding #1 —
    without it a '.\\n N' run stayed one token while the oracle and
    MergesBPE made three)."""
    if len(merges) > _JVM_BPE_MAX_MERGES:
        raise ValueError(
            f"{len(merges)} merges exceeds the JVM replace-chain limit "
            f"({_JVM_BPE_MAX_MERGES}): Catalyst StackOverflows converting "
            "the nested expression — encode with "
            "functions.mini_bpe.MergesBPE in an Arrow-batched UDF instead"
        )
    earlier_outputs: set[str] = set()
    for i, (left, right) in enumerate(merges):
        for side in (left, right):
            if len(side) > 1 and side not in earlier_outputs:
                raise ValueError(
                    f"merge {i} ({left!r},{right!r}): component {side!r} is "
                    "neither a single character nor an earlier merge's "
                    "output — the one-pass-per-merge replace chain only "
                    "equals rank-greedy BPE for causally-ordered (trained) "
                    "merge lists"
                )
        earlier_outputs.add(left + right)

    def char_join(r):
        # chars joined by a DOUBLE sentinel, double-sentinel padding
        return F.concat(
            F.lit(_RS * 2),
            F.concat_ws(_RS * 2, F.split(r, "(?s)(?<=.)(?=.)")),
            F.lit(_RS * 2),
        )

    def apply_merges(s):
        for left, right in merges:
            s = F.replace(
                s,
                F.lit(f"{_RS}{left}{_RS}{_RS}{right}{_RS}"),
                F.lit(f"{_RS}{left}{right}{_RS}"),
            )
        # strip the edge padding, collapse boundaries to one sentinel
        s = F.regexp_replace(
            F.regexp_replace(s, f"^{_RS}{_RS}", ""), f"{_RS}{_RS}$", ""
        )
        return F.replace(s, F.lit(_RS * 2), F.lit(_RS))

    runs = F.regexp_extract_all(
        F.replace(F.coalesce(text_col, F.lit("")), F.lit(_RS), F.lit("")),
        F.lit("[a-z]+|[^a-z]+"),
        0,
    )
    toks_per_run = F.transform(
        runs,
        lambda r: F.when(
            r.rlike("^[a-z]"), apply_merges(char_join(r))
        ).otherwise(F.concat_ws(_RS, F.split(r, "(?s)(?<=.)(?=.)"))),
    )
    return F.split(F.array_join(toks_per_run, _RS), _RS)


def bpe_chunk_documents_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 3 merges on the corpus (the bounded-collect merge loop),
    then chunk every document token-exactly under that tokenizer."""
    rows, toks = _bpe_train_batched(spark, sf_dir, rounds=BPE_MERGES, batch=1)
    toks.unpersist()
    merges = [tuple(r[1].split(" ")) for r in sorted(rows)]
    # Guarded scan-parallelism floor (guide §6; operators/
    # parallelism.py): the replace-chain tokenizer is pure per-doc
    # CPU, and a small corpus scans into ONE split — without the
    # floor the whole encode runs on one core. No-op at scale.
    from finmapreduce_spark.operators.parallelism import scan_floor

    docs = scan_floor(_docs(spark, sf_dir), "doc_id")
    size, step = BPE_CHUNK_SIZE, BPE_CHUNK_SIZE - BPE_CHUNK_OVERLAP
    # Materialize the token array ONCE per doc before the per-chunk
    # transform lambda references it — inline subexpressions inside a
    # higher-order-function lambda can be re-evaluated PER ELEMENT
    # (the _shingles_of O(n²) trap, dedup.py:62). Wall-neutral at
    # sf0.1 (docs are ~1 chunk each and runtime subexpression
    # elimination was already absorbing the duplicate refs), but the
    # projection makes the single evaluation EXPLICIT in the plan —
    # at production chunk counts the lambda re-reference would
    # otherwise be one interpreter change away from O(n_chunks ×
    # tokenize) per doc.
    docs = docs.withColumn("__tk", _bpe_tokens_col(F.col("text"), merges))
    tk = F.col("__tk")
    n = F.size(tk)
    n_chunks = (
        F.when(n <= size, F.lit(1).cast("long"))
        .otherwise(F.ceil((n - size) / F.lit(step)) + 1)
    )
    chunks = F.transform(
        F.sequence(F.lit(0).cast("long"), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_index"),
            F.least(F.lit(size), n - i * step).cast("int").alias("chunk_tokens"),
            F.concat_ws("", F.slice(tk, (i * step + 1).cast("int"), size)).alias(
                "chunk_text"
            ),
        ),
    )
    return docs.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id", "c.chunk_index", "c.chunk_tokens", "c.chunk_text"
    )


def _bpe_tokens_sql(n_merges: int) -> str:
    """DuckDB twin of _bpe_tokens_col (same doubled-separator exact
    greedy merging — see that docstring). Subqueries are not allowed
    inside DuckDB lambdas, so the caller cross-joins 1-row merge
    views exposing plain columns l{k}/r{k}/g{k} (left, right,
    merged) for each rank k — lambdas may reference row columns."""
    rs, rs2 = "chr(30)", "chr(30) || chr(30)"
    body = (
        f"{rs2} || array_to_string(string_split(run, ''), {rs2}) || {rs2}"
    )
    for k in range(1, n_merges + 1):
        pat = f"{rs} || l{k} || {rs2} || r{k} || {rs}"
        rep = f"{rs} || g{k} || {rs}"
        body = f"replace({body}, {pat}, {rep})"
    body = (
        f"replace(regexp_replace(regexp_replace({body}, "
        f"'^' || {rs2}, ''), {rs2} || '$', ''), {rs2}, {rs})"
    )
    return f"""
  string_split(
    array_to_string(
      list_transform(
        regexp_extract_all(replace(coalesce(text, ''), chr(30), ''),
                           '[a-z]+|[^a-z]+'),
        run -> CASE WHEN regexp_matches(run, '^[a-z]')
          THEN {body}
          ELSE array_to_string(string_split(run, ''), chr(30)) END
      ), chr(30)),
    chr(30))
"""


_BPE_STEP = BPE_CHUNK_SIZE - BPE_CHUNK_OVERLAP

# Shared training + tokenization CTE prefix (3 merges → per-doc token
# arrays) for both exact-lane oracles below.
_BPE_TOK_CTES = f"""words AS (
  SELECT w, count(*) AS weight FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
    FROM documents
  ) WHERE w <> '' AND length(w) <= {BPE_MAX_WORD_LEN}
  GROUP BY w
),
t0 AS (SELECT array_to_string(string_split(w, ''), ' ') AS s, weight FROM words),
m1 AS ({_bpe_top_sql('t0')}),
t1 AS ({_bpe_apply_sql('t0', 'm1')}),
m2 AS ({_bpe_top_sql('t1')}),
t2 AS ({_bpe_apply_sql('t1', 'm2')}),
m3 AS ({_bpe_top_sql('t2')}),
m1v AS (SELECT string_split(pair, ' ')[1] AS l1, string_split(pair, ' ')[2] AS r1,
               merged AS g1 FROM m1),
m2v AS (SELECT string_split(pair, ' ')[1] AS l2, string_split(pair, ' ')[2] AS r2,
               merged AS g2 FROM m2),
m3v AS (SELECT string_split(pair, ' ')[1] AS l3, string_split(pair, ' ')[2] AS r3,
               merged AS g3 FROM m3),
tok AS (
  SELECT doc_id, coalesce({_bpe_tokens_sql(3)}, ['']) AS tk
  FROM documents, m1v, m2v, m3v
)"""

BPE_CHUNK_ORACLE = f"""
WITH {_BPE_TOK_CTES},
sized AS (SELECT doc_id, tk, len(tk) AS n FROM tok)
SELECT doc_id,
       CAST(i AS INT) AS chunk_index,
       CAST(least({BPE_CHUNK_SIZE}, n - i * {_BPE_STEP}) AS INT) AS chunk_tokens,
       array_to_string(
         list_slice(tk, i * {_BPE_STEP} + 1, i * {_BPE_STEP} + {BPE_CHUNK_SIZE}),
         '') AS chunk_text
FROM sized,
     unnest(range(0, CASE WHEN n <= {BPE_CHUNK_SIZE} THEN 1
                          ELSE CAST(ceil((n - {BPE_CHUNK_SIZE})
                                    / {_BPE_STEP}.0) AS BIGINT) + 1 END)) AS t(i)
"""


QUERIES.update(
    {
        "bpe_chunk_documents_exact": QuerySpec(
            bpe_chunk_documents_exact, BPE_CHUNK_ORACLE
        ),
    }
)


# F3/F4 exact variants under the same trained tokenizer: start keeps
# tokens[:B], end keeps tokens[-B:]; the truncated text is the
# literal substring the kept token slice covers (tokens partition the
# text). Same output contract as functions/truncation.py /
# functions/exact_tokens.py::truncate_words_exact.

BPE_TRUNC_BUDGET = 1024


def bpe_truncate_documents_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows, toks = _bpe_train_batched(spark, sf_dir, rounds=BPE_MERGES, batch=1)
    toks.unpersist()
    merges = [tuple(r[1].split(" ")) for r in sorted(rows)]
    # same guarded parallelism floor as bpe_chunk_documents_exact
    from finmapreduce_spark.operators.parallelism import scan_floor

    docs = scan_floor(_docs(spark, sf_dir), "doc_id")
    b = BPE_TRUNC_BUDGET
    # Materialized once per doc (see bpe_chunk_documents_exact): the
    # flat select below references tk from four output expressions,
    # and the replace-chain tokenizer is CodegenFallback — without
    # the projection each reference re-tokenizes the document.
    docs = docs.withColumn("__tk", _bpe_tokens_col(F.col("text"), merges))
    tk = F.col("__tk")
    n = F.size(tk)
    kept = F.least(F.lit(b), n)
    start_txt = F.concat_ws("", F.slice(tk, 1, b))
    end_txt = F.concat_ws(
        "", F.slice(tk, F.greatest(F.lit(1), n - b + 1).cast("int"), b)
    )
    return docs.select(
        "doc_id",
        n.cast("int").alias("trunc_original"),
        kept.cast("int").alias("trunc_tokens"),
        (n > b).alias("trunc_applied"),
        F.round(kept / n, 6).alias("trunc_retention"),
        start_txt.alias("trunc_start_text"),
        end_txt.alias("trunc_end_text"),
    )


BPE_TRUNC_ORACLE = f"""
WITH {_BPE_TOK_CTES},
sized AS (SELECT doc_id, tk, len(tk) AS n FROM tok)
SELECT doc_id,
       CAST(n AS INT) AS trunc_original,
       CAST(least({BPE_TRUNC_BUDGET}, n) AS INT) AS trunc_tokens,
       n > {BPE_TRUNC_BUDGET} AS trunc_applied,
       round(least({BPE_TRUNC_BUDGET}, n) * 1.0 / n, 6) AS trunc_retention,
       array_to_string(list_slice(tk, 1, {BPE_TRUNC_BUDGET}), '')
         AS trunc_start_text,
       array_to_string(
         list_slice(tk, greatest(1, n - {BPE_TRUNC_BUDGET} + 1), n), '')
         AS trunc_end_text
FROM sized
"""


QUERIES.update(
    {
        "bpe_truncate_documents_exact": QuerySpec(
            bpe_truncate_documents_exact, BPE_TRUNC_ORACLE
        ),
    }
)


# ---------------------------------------------------------------------------
# Vocab-scale BPE lane (round-10; 4,096 merges since round 12): the
# exact lane above certifies the ≤256-merge JVM replace chain; THIS
# lane certifies the production tokenizer path real vocabularies
# take — a vendored 4,096-merge table
# (finmapreduce_spark/resources/vocab_bpe_merges.txt, deliberately
# ABOVE the JVM chain's Catalyst envelope, regenerated byte-identically
# by tools/make_vocab_bpe_fixture.py's pure-Python twin of the
# distributed batched trainer; tests/test_exact_tokens.py pins the
# Spark trainer against it) applied with the Arrow-batched MergesBPE
# UDF (functions/mini_bpe.py — dict-based rank lookup, merge-count-
# independent, measured 7-8 MB/s/core).
#
# Scale: embarrassingly parallel — the merge table (a few KB) ships in
# the UDF closure, every document tokenizes inside its own partition,
# ZERO shuffle before the (absent) aggregation. At 100 TB this is a
# single mapInArrow-style pass over the corpus scan.
#
# Oracle: the same 4,096 merges replayed in DuckDB as literal
# doubled-separator replace chains (see _bpe_tokens_col's equivalence
# note), batched ~48 merges per CTE to stay far under DuckDB's
# max_expression_depth. The oracle uses a FLAT whole-document char
# form instead of the per-run lambda: every char is a token joined by
# double sentinels; merges are lowercase-only pairs, so they can never
# fuse across a letter/non-letter boundary — per-run and flat forms
# are therefore equivalent, and the flat form lets the replace chain
# split across CTEs (a lambda body cannot).
# ---------------------------------------------------------------------------

VOCAB_CHUNK_SIZE = 128
VOCAB_CHUNK_OVERLAP = 32
_VOCAB_STEP = VOCAB_CHUNK_SIZE - VOCAB_CHUNK_OVERLAP


def _vocab_merges() -> list[tuple[str, str]]:
    # shared with the round-15 default token model (functions/
    # token_model.py) — ONE vendored merge table everywhere
    from finmapreduce_spark.functions.token_model import vocab_merges

    return vocab_merges()


def _docs_rs_stripped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # chr(30) is the oracle's token sentinel; both engines strip it
    # from the input (the synthetic corpus never contains it — this
    # is exactness hygiene, mirroring _bpe_tokens_col)
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.replace(
            F.coalesce(F.col("text"), F.lit("")), F.lit(_RS), F.lit("")
        ).alias("text"),
    )


def bpe_vocab_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 at vocab scale: token-exact chunking of every document under
    the 4,096-merge vendored tokenizer via the Arrow MergesBPE UDF
    — the path real vocabularies take, at real vocabulary scale."""
    from finmapreduce_spark.functions.exact_tokens import explode_chunks_exact
    from finmapreduce_spark.functions.mini_bpe import MergesBPE

    return explode_chunks_exact(
        _docs_rs_stripped(spark, sf_dir),
        text_col="text",
        key_cols=("doc_id",),
        chunk_size=VOCAB_CHUNK_SIZE,
        chunk_overlap=VOCAB_CHUNK_OVERLAP,
        encoder_factory=MergesBPE.factory(_vocab_merges()),
    )


def _vocab_n_tokens_udf():
    """The ONE exact-token-count UDF under the vendored vocab (shared
    by the stats and packing queries — round-10 review: duplicates
    must not be able to desynchronize against the oracle chain)."""
    from finmapreduce_spark.functions.mini_bpe import MergesBPE

    factory = MergesBPE.factory(_vocab_merges())

    @F.pandas_udf("long")
    def _n_tokens(texts: pd.Series) -> pd.Series:
        enc = factory()
        return texts.fillna("").map(lambda s: len(enc.encode(s)))

    return _n_tokens


def bpe_vocab_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 at vocab scale: per-document exact token counts + observed
    compression under the vendored 4,096-merge tokenizer."""
    docs = _docs_rs_stripped(spark, sf_dir)
    n = _vocab_n_tokens_udf()(F.col("text"))
    chars = F.length("text")
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        chars.cast("long").alias("n_chars"),
        F.when(chars > 0, F.round(n / chars, 6)).alias("compression"),
    )


def _vocab_tokens_ctes(batch: int = 48) -> str:
    """CTE chain ``vp0 .. vpK, vtok`` — delegated to the shared
    default-token-model module (round 15: one vendored-merges DuckDB
    twin everywhere, used by these vocab lanes AND the promoted
    F1/F2/F3/F4 default oracles)."""
    from finmapreduce_spark.functions.token_model import vocab_tokens_sql_ctes

    return vocab_tokens_sql_ctes(batch=batch)


VOCAB_CHUNK_ORACLE = f"""
WITH {_vocab_tokens_ctes()},
sized AS (SELECT doc_id, tk, len(tk) AS n FROM vtok)
SELECT doc_id,
       CAST(i AS INT) AS chunk_index,
       -- coalesce: an EMPTY doc yields tk = [] and DuckDB's
       -- array_to_string(list_slice([], ...)) is NULL where the Arrow
       -- encoder emits the empty chunk '' — caught by the round-12
       -- full-catalog poisoned sweep (the only divergence in 204)
       coalesce(array_to_string(
         list_slice(tk, i * {_VOCAB_STEP} + 1,
                    i * {_VOCAB_STEP} + {VOCAB_CHUNK_SIZE}),
         ''), '') AS chunk_text
FROM sized,
     unnest(range(0, CASE WHEN n <= {VOCAB_CHUNK_SIZE} THEN 1
                          ELSE CAST(ceil((n - {VOCAB_CHUNK_SIZE})
                                    / {_VOCAB_STEP}.0) AS BIGINT) + 1 END))
       AS t(i)
"""

VOCAB_STATS_ORACLE = f"""
WITH {_vocab_tokens_ctes()},
chars AS (SELECT doc_id, length(replace(coalesce(text, ''), chr(30), '')) AS c
          FROM documents)
SELECT vtok.doc_id,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       CAST(c AS BIGINT) AS n_chars,
       CASE WHEN c > 0 THEN round(len(tk) * 1.0 / c, 6) END AS compression
FROM vtok JOIN chars ON vtok.doc_id = chars.doc_id
"""

def bpe_vocab_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fit diagnostics per document under the vendored
    vocab: single-char-token fraction (high = the vocabulary doesn't
    cover this text — chars fall through unmerged) and average token
    length (chars/token; tokens partition the text, so the numerator
    is just n_chars). The per-doc signal a pipeline uses to decide
    whether a trained tokenizer transfers to a new corpus slice."""
    from finmapreduce_spark.functions.mini_bpe import MergesBPE

    factory = MergesBPE.factory(_vocab_merges())

    @F.pandas_udf("n_tokens long, n_single long")
    def _fert(texts: pd.Series) -> pd.DataFrame:
        enc = factory()

        def stats(s):
            toks = [enc._tok[i] for i in enc.encode(s)]
            return len(toks), sum(1 for t in toks if len(t) == 1)

        out = texts.fillna("").map(stats)
        return pd.DataFrame(
            {"n_tokens": [a for a, _ in out], "n_single": [b for _, b in out]}
        )

    docs = _docs_rs_stripped(spark, sf_dir)
    st = _fert(F.col("text")).alias("st")
    chars = F.length("text")
    return docs.select("doc_id", st, chars.alias("c")).select(
        "doc_id",
        F.col("st.n_tokens").alias("n_tokens"),
        F.col("st.n_single").alias("n_single"),
        F.when(
            F.col("st.n_tokens") > 0,
            F.round(F.col("st.n_single") / F.col("st.n_tokens"), 6),
        ).alias("single_frac"),
        F.when(
            F.col("st.n_tokens") > 0,
            F.round(F.col("c") / F.col("st.n_tokens"), 6),
        ).alias("avg_token_len"),
    )


VOCAB_FERTILITY_ORACLE = f"""
WITH {_vocab_tokens_ctes()},
chars AS (SELECT doc_id,
                 length(replace(coalesce(text, ''), chr(30), '')) AS c
          FROM documents)
SELECT vtok.doc_id,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(tk, t -> length(t) = 1)) AS BIGINT) AS n_single,
       CASE WHEN len(tk) > 0
            THEN round(len(list_filter(tk, t -> length(t) = 1)) * 1.0
                       / len(tk), 6) END AS single_frac,
       CASE WHEN len(tk) > 0
            THEN round(c * 1.0 / len(tk), 6) END AS avg_token_len
FROM vtok JOIN chars ON vtok.doc_id = chars.doc_id
"""

QUERIES.update(
    {
        "bpe_vocab_chunk_documents": QuerySpec(
            bpe_vocab_chunk_documents, VOCAB_CHUNK_ORACLE
        ),
        "bpe_vocab_token_stats": QuerySpec(
            bpe_vocab_token_stats, VOCAB_STATS_ORACLE
        ),
        "bpe_vocab_fertility": QuerySpec(
            bpe_vocab_fertility, VOCAB_FERTILITY_ORACLE
        ),
    }
)


def pack_vocab_exact_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing by EXACT token counts under the vendored
    vocab tokenizer — the production twin of pack_training_sequences
    (whose whitespace counts drift from what a trainer's dataloader
    actually sees; budget-exact packing needs the real tokenizer).
    Same deterministic layout math: bucket = doc_id mod N, one window
    cumulative sum per bucket, seq_id/offset from the running total —
    only the token counter changes (one Arrow MergesBPE pass); both
    the layout and the counter are the SHARED definitions
    (_pack_layout / _vocab_n_tokens_udf), so the twins cannot
    diverge."""
    docs = _docs_rs_stripped(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(N_PACK_BUCKETS)).alias("bucket"),
        _vocab_n_tokens_udf()(F.col("text")).alias("n_tokens"),
    )
    return _pack_layout(toks)


PACK_VOCAB_ORACLE = f"""
WITH {_vocab_tokens_ctes()},
toks AS (
  SELECT doc_id, doc_id % {N_PACK_BUCKETS} AS bucket,
         CAST(len(tk) AS BIGINT) AS n_tokens
  FROM vtok
), {_pack_sql_tail('toks')}
"""

QUERIES.update(
    {
        "pack_vocab_exact_layout": QuerySpec(
            pack_vocab_exact_layout, PACK_VOCAB_ORACLE
        ),
    }
)

# ---------------------------------------------------------------------------
# Distributed linear-classifier training (the fasttext-style langid /
# quality-classifier step of a pre-training data pipeline): hashed
# bag-of-words features (Weinberger et al. 2009, the same 64-bucket
# signed-md5 scheme functions/scoring.py embeds with) + a full-batch
# one-vs-all perceptron trained for K epochs. ONE trainer
# (_cls_multiclass_train) serves every lane: the binary lanes
# (lang=='en', the contrastive quality labels) are its one-class
# calls.
#
# Spark shape: features are ONE explode + groupBy(doc, bucket) with
# map-side combine (≤ 65 rows per doc regardless of doc length),
# joined once to the tiny (doc, class, ±1) label table. Each epoch
# is: margins as a narrow JVM map over that table with the weight
# vectors inlined as a map-of-arrays literal (the model is O(K·dim) —
# the k-means-centroid pattern: K×65 longs to the driver per epoch,
# never a wide collect), one groupBy(class, doc) for the margin sum,
# one K×65-row aggregate for the update. K epochs = K cheap shuffles
# over the compacted feature table, not the corpus.
#
# Exactness: features, labels (±1), weights, and margins are ALL
# integers (perceptron updates add y·x with no learning-rate
# division), so both engines compute bit-identical results with no
# float-order concerns — the same trick the BPE trainer uses. The
# oracle unrolls the K epochs as CTEs.
# ---------------------------------------------------------------------------

CLS_DIM = 64          # hash buckets; +1 bias feature at idx CLS_DIM
CLS_EPOCHS = 3

_HEXPOS = "strpos('0123456789abcdef', substring(h, {p}, 1)) - 1"


def _cls_features_unlabeled(docs: DataFrame) -> DataFrame:
    """(doc_id, idx, wgt): the label-free signed hashed-BoW feature
    table + bias rows over the ``docs`` (doc_id, text, ...) the caller
    gives; labels live in the per-class y table the trainer joins.

    Tokenization and md5 bucket/sign bit-match the SQL oracle (the
    u6_hashing_bow_cosine correspondence: trim = spaces only, split
    on RE2's exact \\s class, bucket = md5 bytes 3-4 mod 64, sign =
    low bit of byte 4)."""
    # NOTE on local skew: the corpus here is one parquet row group →
    # a handful of scan splits, so the explode+md5 feature build
    # lands mostly on one task (skew_report: 6× dur skew, uniform
    # input bytes). A pre-explode repartition was measured NET
    # NEGATIVE locally (+0.6s: every epoch job then pays 32-task
    # scheduling on the small persisted feature table). At 100 TB
    # the corpus is thousands of row groups and the scan fans out by
    # itself; the ingest-side fix is the bucketed corpus sink.
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), "[ \t\n\f\r]+")
        ).alias("w"),
    )
    h = F.md5(F.col("w"))
    idx = (F.conv(F.substring(h, 7, 2), 16, 10).cast("int") % CLS_DIM)
    sign = F.when(
        F.conv(F.substring(h, 10, 1), 16, 10).cast("int") % 2 == 1, 1
    ).otherwise(-1)
    feat = (
        toks.select("doc_id", idx.alias("idx"), sign.alias("sign"))
        .groupBy("doc_id", "idx")
        .agg(F.sum("sign").cast("long").alias("wgt"))
    )
    bias = docs.select(
        "doc_id",
        F.lit(CLS_DIM).alias("idx"),
        F.lit(1).cast("long").alias("wgt"),
    )
    return feat.unionByName(bias)


def _cls_multiclass_train(
    feat: DataFrame, ydf: DataFrame, classes: list[str]
):
    """The averaged-perceptron epochs (Freund & Schapire 1999), one
    integer weight row per class trained jointly: ``feat`` is the
    (doc_id, idx, wgt) feature table, ``ydf`` the (doc_id, cls, y ±1)
    label table over ``classes``. → (final weights, epoch-summed
    weights — both {cls: [dim+1 longs]} —, margins builder, fy frame).
    fy stays persisted — callers embedding margins() plans in their
    result own the lifecycle (catalog-wide clearCache contract)."""
    # (cls, y, doc_id, idx, wgt): K×(≤65) rows per doc; persisted —
    # every epoch's margin and update jobs read it
    fy = feat.join(ydf, "doc_id").persist()
    weights = {c: [0] * (CLS_DIM + 1) for c in classes}
    acc = {c: [0] * (CLS_DIM + 1) for c in classes}

    def margins(wd, out_col="m"):
        wmap = F.create_map(
            *[
                x
                for c in classes
                for x in (
                    F.lit(c),
                    F.array(*[F.lit(int(v)).cast("long") for v in wd[c]]),
                )
            ]
        )
        return (
            fy.select(
                "cls",
                "doc_id",
                "y",
                (
                    F.col("wgt")
                    * F.element_at(
                        F.element_at(wmap, F.col("cls")), F.col("idx") + 1
                    )
                ).alias("t"),
            )
            .groupBy("cls", "doc_id", "y")
            .agg(F.sum("t").cast("long").alias(out_col))
        )

    for epoch in range(CLS_EPOCHS):
        if epoch == 0:
            # w0 = 0 ⇒ margin 0 ⇒ every (class, doc) misclassified:
            # first update is one aggregate, no margin job (the
            # oracles' w1 CTE states the same identity per class)
            miss_feat = fy
        else:
            miss = (
                margins(weights)
                .filter(F.col("y") * F.col("m") <= 0)
                .select("cls", "doc_id")
            )
            miss_feat = fy.join(miss, ["cls", "doc_id"])
        delta = (
            miss_feat.groupBy("cls", "idx")
            .agg(F.sum(F.col("y") * F.col("wgt")).alias("d"))
            .collect()
        )
        for r in delta:
            weights[r["cls"]][r["idx"]] += int(r["d"])
        for c in classes:
            wc, ac = weights[c], acc[c]
            for j in range(CLS_DIM + 1):
                ac[j] += wc[j]
    return weights, acc, margins, fy


def _cls_langid_train(
    spark: SparkSession, sf_dir: str, classes: list[str] | None
):
    """Langid one-vs-all over the corpus: y = +1 iff the doc's lang
    (NULL → '') is the class. ``classes`` None trains every lang
    present (the multiclass lanes); the binary lanes pass ["en"].
    → (classes, weights, acc, margins builder, labels frame, fy)."""
    docs = _docs(spark, sf_dir)
    labels = docs.select(
        "doc_id", F.coalesce("lang", F.lit("")).alias("lang")
    )
    if classes is None:
        classes = sorted(
            r["lang"] for r in labels.select("lang").distinct().collect()
        )
    ydf = labels.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("cls"),
                    F.when(F.col("lang") == c, 1)
                    .otherwise(-1)
                    .alias("y"),
                )
                for c in classes
            ])
        ).alias("cy"),
    ).select("doc_id", "cy.cls", "cy.y")
    feat = _cls_features_unlabeled(docs)
    weights, acc, margins, fy = _cls_multiclass_train(feat, ydf, classes)
    return classes, weights, acc, margins, labels, fy


def _cls_binary_margins(weights: dict, acc: dict, margins) -> DataFrame:
    """(doc_id, label, margin, margin_avg, pred) of a one-class model:
    final and averaged margins and the averaged-weight prediction."""
    return (
        margins(weights, "m")
        .join(margins(acc, "m_avg"), ["cls", "doc_id", "y"])
        .select(
            "doc_id",
            F.col("y").cast("int").alias("label"),
            F.col("m").alias("margin"),
            F.col("m_avg").alias("margin_avg"),
            (F.col("m_avg") > 0).cast("int").alias("pred"),
        )
    )


def classifier_langid_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the AVERAGED perceptron (Freund & Schapire 1999 — the
    voted/averaged variant that stabilizes batch-perceptron
    oscillation on non-separable data) for CLS_EPOCHS epochs on
    lang=='en' (the one-class call of the one-vs-all trainer); return
    per-document final + averaged margins and the averaged-weight
    prediction: (doc_id, label, margin, margin_avg, pred).

    Honest note on accuracy: the synthetic corpus draws every lang
    from the SAME 31-word vocabulary with only ~15% relative rate
    skews, so the Bayes ceiling for lang=='en' from BoW is ~0.61 (a
    fully-converged logistic regression on exact word frequencies);
    the averaged perceptron lands ~0.57 vs a 0.56 majority floor.
    What the catalog certifies is the distributed training
    ARITHMETIC: margins, updates, and averaged weights are
    bit-identical to the unrolled SQL oracle because everything is
    integer."""
    _, weights, acc, margins, _, _ = _cls_langid_train(spark, sf_dir, ["en"])
    # fy stays persisted: the returned plan references it and the
    # driver executes lazily; it is a ≤65-rows-per-doc table.
    return _cls_binary_margins(weights, acc, margins)


def _cls_oracle(
    tail: str | None = None,
    labeled_sql: str | None = None,
    prelude: str = "",
    recursive: bool = False,
) -> str:
    """Unrolled-epoch CTE chain; ``tail`` overrides the final SELECT
    (default: per-doc margins). ``labeled_sql`` overrides the labeled
    CTE body (any (doc_id, y, text) SELECT); ``prelude`` injects CTEs
    BEFORE it (with trailing comma); ``recursive`` switches the WITH
    keyword when the prelude contains a recursive walk."""
    dim = CLS_DIM
    epochs = []
    prev_w = "w1"
    for e in range(2, CLS_EPOCHS + 1):
        epochs.append(f"""
m{e - 1} AS (
  SELECT f.doc_id, f.y, sum(f.wgt * {prev_w}.w) AS m
  FROM feat f JOIN {prev_w} USING (idx) GROUP BY 1, 2
),
d{e} AS (
  SELECT f.idx, sum(f.y * f.wgt) AS d
  FROM feat f JOIN m{e - 1} ON m{e - 1}.doc_id = f.doc_id
  WHERE m{e - 1}.y * m{e - 1}.m <= 0
  GROUP BY 1
),
w{e} AS (
  SELECT {prev_w}.idx, {prev_w}.w + coalesce(d{e}.d, 0) AS w
  FROM {prev_w} LEFT JOIN d{e} USING (idx)
),""")
        prev_w = f"w{e}"
    wsum = " + ".join(
        f"w{e}.w" for e in range(1, CLS_EPOCHS + 1)
    )
    wjoin = " ".join(
        f"JOIN w{e} USING (idx)" for e in range(2, CLS_EPOCHS + 1)
    )
    hp7 = _HEXPOS.format(p=7)
    hp8 = _HEXPOS.format(p=8)
    hp10 = _HEXPOS.format(p=10)
    default_tail = f"""
SELECT doc_id, CAST(y AS INT) AS label, CAST(m AS BIGINT) AS margin,
       CAST(m_avg AS BIGINT) AS margin_avg,
       CAST(CASE WHEN m_avg > 0 THEN 1 ELSE 0 END AS INT) AS pred
FROM final"""
    if labeled_sql is None:
        labeled_sql = (
            "SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END"
            " AS y, text FROM documents"
        )
    return f"""
WITH {"RECURSIVE " if recursive else ""}{prelude}labeled AS (
  {labeled_sql}
), hx AS (
  SELECT doc_id, y, md5(w) AS h FROM (
    SELECT doc_id, y,
           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
    FROM labeled
  )
), feat AS (
  SELECT doc_id, y,
         (({hp7}) * 16 + {hp8}) % {dim} AS idx,
         sum(CASE WHEN ({hp10}) % 2 = 1 THEN 1 ELSE -1 END) AS wgt
  FROM hx GROUP BY 1, 2, 3
  UNION ALL
  SELECT doc_id, y, {dim} AS idx, 1 AS wgt FROM labeled
),
w1 AS (
  -- at w0 = 0 every doc has margin 0, hence is misclassified: the
  -- first update sums y*x over the whole corpus
  SELECT idx, sum(y * wgt) AS w FROM feat GROUP BY 1
),{"".join(epochs)}
wavg AS (
  SELECT w1.idx, {wsum} AS w
  FROM w1 {wjoin}
),
final AS (
  SELECT f.doc_id, f.y,
         sum(f.wgt * {prev_w}.w) AS m,
         sum(f.wgt * wavg.w) AS m_avg
  FROM feat f
  JOIN {prev_w} USING (idx)
  JOIN wavg USING (idx)
  GROUP BY 1, 2
){tail if tail is not None else default_tail}
"""


CLASSIFIER_ORACLE = _cls_oracle()

QUERIES.update(
    {
        "classifier_langid_train": QuerySpec(
            classifier_langid_train, CLASSIFIER_ORACLE
        ),
    }
)


def classifier_langid_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The model ARTIFACT: per-bucket final and epoch-summed weights
    after training — the (dim+1)-row table a serving path would
    broadcast (idx CLS_DIM is the bias). Same training loop as
    classifier_langid_train; the oracle certifies the weight vector
    directly rather than through the margins."""
    _, weights, acc, _, _, fy = _cls_langid_train(spark, sf_dir, ["en"])
    fy.unpersist()
    return spark.createDataFrame(
        [(i, weights["en"][i], acc["en"][i]) for i in range(CLS_DIM + 1)],
        "idx int, w_final long, w_avg long",
    )


# weights exist only for buckets some token hashed into; absent
# buckets are exact zeros in the Spark artifact, so the oracle
# right-joins the full index range.
CLASSIFIER_WEIGHTS_ORACLE = _cls_oracle(
    tail=f"""
SELECT CAST(r.i AS INT) AS idx,
       CAST(coalesce(wf.w, 0) AS BIGINT) AS w_final,
       CAST(coalesce(wa.w, 0) AS BIGINT) AS w_avg
FROM range(0, {CLS_DIM + 1}) AS r(i)
LEFT JOIN w{CLS_EPOCHS} wf ON wf.idx = r.i
LEFT JOIN wavg wa ON wa.idx = r.i"""
)

QUERIES.update(
    {
        "classifier_langid_weights": QuerySpec(
            classifier_langid_weights, CLASSIFIER_WEIGHTS_ORACLE
        ),
    }
)


# ---------------------------------------------------------------------------
# Multi-class langid (VERDICT r10 #6 — the real fasttext shape): the
# corpus has >= 3 languages, so the trainer runs one-vs-all over every
# lang present — per-CLASS integer weight rows trained jointly (every
# epoch is ONE margin job + ONE update aggregate covering ALL
# classes), with argmax prediction over averaged margins (ties broken
# by class name asc, deterministically in both engines). Arithmetic
# stays ALL-INTEGER, so the unrolled-CTE DuckDB oracle is bit-exact.
# ---------------------------------------------------------------------------


def classifier_langid_multiclass(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(doc_id, label, pred_lang, margin_avg, correct): one-vs-all
    averaged-perceptron language prediction — argmax of the averaged
    margin across classes (ties → class name asc). Same honest
    accuracy note as the binary lane: the synthetic corpus draws all
    languages from one vocabulary, so what the oracle certifies is
    the distributed one-vs-all training ARITHMETIC, bit-exact."""
    _, _, acc, margins, labels, _ = _cls_langid_train(spark, sf_dir, None)
    w = W.partitionBy("doc_id").orderBy(F.desc("m_avg"), F.asc("cls"))
    pick = (
        margins(acc, "m_avg")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return pick.join(labels, "doc_id").select(
        "doc_id",
        F.col("lang").alias("label"),
        F.col("cls").alias("pred_lang"),
        F.col("m_avg").cast("long").alias("margin_avg"),
        (F.col("cls") == F.col("lang")).cast("int").alias("correct"),
    )


def classifier_langid_multiclass_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The multi-class model ARTIFACT: per-(class, bucket) final and
    epoch-summed weights — the K×(dim+1)-row table a serving path
    broadcasts (idx CLS_DIM is the bias)."""
    classes, weights, acc, _, _, fy = _cls_langid_train(spark, sf_dir, None)
    fy.unpersist()
    return spark.createDataFrame(
        [
            (c, i, weights[c][i], acc[c][i])
            for c in classes
            for i in range(CLS_DIM + 1)
        ],
        "cls string, idx int, w_final long, w_avg long",
    )


def _cls_multi_oracle(tail: str) -> str:
    """Unrolled-epoch CTE chain with the class threaded through every
    relation — the one-vs-all twin of _cls_oracle."""
    dim = CLS_DIM
    hp7 = _HEXPOS.format(p=7)
    hp8 = _HEXPOS.format(p=8)
    hp10 = _HEXPOS.format(p=10)
    epochs = []
    prev_w = "w1"
    for e in range(2, CLS_EPOCHS + 1):
        epochs.append(f"""
m{e - 1} AS (
  SELECT fy.cls, fy.doc_id, fy.y, sum(fy.wgt * w.w) AS m
  FROM fy JOIN {prev_w} w ON w.cls = fy.cls AND w.idx = fy.idx
  GROUP BY 1, 2, 3
),
d{e} AS (
  SELECT m.cls, fy.idx, sum(fy.y * fy.wgt) AS d
  FROM fy JOIN m{e - 1} m ON m.cls = fy.cls AND m.doc_id = fy.doc_id
  WHERE m.y * m.m <= 0
  GROUP BY 1, 2
),
w{e} AS (
  SELECT w.cls, w.idx, w.w + coalesce(d.d, 0) AS w
  FROM {prev_w} w LEFT JOIN d{e} d ON d.cls = w.cls AND d.idx = w.idx
),""")
        prev_w = f"w{e}"
    wsum = " + ".join(f"w{e}.w" for e in range(1, CLS_EPOCHS + 1))
    wjoin = " ".join(
        f"JOIN w{e} ON w{e}.cls = w1.cls AND w{e}.idx = w1.idx"
        for e in range(2, CLS_EPOCHS + 1)
    )
    return f"""
WITH lab AS (
  SELECT doc_id, coalesce(lang, '') AS lang, text FROM documents
), classes AS (
  SELECT DISTINCT lang AS cls FROM lab
), y AS (
  SELECT c.cls, l.doc_id,
         CASE WHEN l.lang = c.cls THEN 1 ELSE -1 END AS y
  FROM lab l CROSS JOIN classes c
), hx AS (
  SELECT doc_id, md5(w) AS h FROM (
    SELECT doc_id,
           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
    FROM lab
  )
), feat0 AS (
  SELECT doc_id,
         (({hp7}) * 16 + {hp8}) % {dim} AS idx,
         sum(CASE WHEN ({hp10}) % 2 = 1 THEN 1 ELSE -1 END) AS wgt
  FROM hx GROUP BY 1, 2
  UNION ALL
  SELECT doc_id, {dim} AS idx, 1 AS wgt FROM lab
), fy AS (
  SELECT y.cls, y.y, f.doc_id, f.idx, f.wgt
  FROM feat0 f JOIN y USING (doc_id)
),
w1 AS (
  SELECT cls, idx, sum(y * wgt) AS w FROM fy GROUP BY 1, 2
),{"".join(epochs)}
wavg AS (
  SELECT w1.cls, w1.idx, {wsum} AS w
  FROM w1 {wjoin}
),
final AS (
  SELECT fy.cls, fy.doc_id, sum(fy.wgt * wavg.w) AS m_avg
  FROM fy JOIN wavg ON wavg.cls = fy.cls AND wavg.idx = fy.idx
  GROUP BY 1, 2
){tail}
"""


CLASSIFIER_MULTICLASS_ORACLE = _cls_multi_oracle(
    tail="""
, pick AS (
  SELECT doc_id, cls, m_avg,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY m_avg DESC, cls ASC) AS rn
  FROM final
)
SELECT p.doc_id, l.lang AS label, p.cls AS pred_lang,
       CAST(p.m_avg AS BIGINT) AS margin_avg,
       CAST(CASE WHEN p.cls = l.lang THEN 1 ELSE 0 END AS INT) AS correct
FROM pick p JOIN lab l USING (doc_id) WHERE rn = 1"""
)

CLASSIFIER_MULTICLASS_WEIGHTS_ORACLE = _cls_multi_oracle(
    tail=f"""
SELECT c.cls, CAST(r.i AS INT) AS idx,
       CAST(coalesce(wf.w, 0) AS BIGINT) AS w_final,
       CAST(coalesce(wa.w, 0) AS BIGINT) AS w_avg
FROM classes c CROSS JOIN range(0, {CLS_DIM + 1}) AS r(i)
LEFT JOIN w{CLS_EPOCHS} wf ON wf.cls = c.cls AND wf.idx = r.i
LEFT JOIN wavg wa ON wa.cls = c.cls AND wa.idx = r.i"""
)

QUERIES.update(
    {
        "classifier_langid_multiclass": QuerySpec(
            classifier_langid_multiclass, CLASSIFIER_MULTICLASS_ORACLE
        ),
        "classifier_langid_multiclass_weights": QuerySpec(
            classifier_langid_multiclass_weights,
            CLASSIFIER_MULTICLASS_WEIGHTS_ORACLE,
        ),
    }
)


# ---------------------------------------------------------------------------
# Epoch shuffling + curriculum ordering (round 11): the two ORDERING
# steps every pre-training data loader runs between curation and
# batching. Both are pure rank assignments — deterministic,
# integer/string-exact, one sort each — so the DuckDB oracles are
# bit-exact.
#
# - Epoch shuffle: a seeded hash rank per (epoch, doc) — the standard
#   "different global order every epoch, reproducible from the seed"
#   contract (md5 over seed:epoch:doc; doc_id tiebreak for the
#   astronomically-unlikely hash tie keeps row_number total). The rank
#   itself is DISTRIBUTED (round 12): a hex-prefix band of the md5 key
#   splits each epoch into 256 order-monotone slices, ranks locally
#   per slice, and adds broadcast prefix-count offsets
#   (operators/distrank.py) — never a whole-epoch sort on one task.
#   At 100 TB the per-task sort is N/n_bands (id, key) pairs — never
#   the payload; loaders join the rank table back by id.
# - Curriculum: order stages by a quality signal (here: Gopher-style
#   mean word length band — stage 0 = cleanest band first), shuffle
#   WITHIN each stage with the same seeded hash (so intra-stage order
#   is unbiased), and emit the global curriculum rank.
# ---------------------------------------------------------------------------

SHUFFLE_SEED = "fmr-epoch-seed"
SHUFFLE_EPOCHS = 3


def train_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(epoch, doc_id, shuffle_rank): the per-epoch deterministic
    global shuffle order for SHUFFLE_EPOCHS epochs."""
    docs = _docs(spark, sf_dir).select("doc_id")
    epochs = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(SHUFFLE_EPOCHS - 1))
        ).alias("epoch"),
    )
    key = F.md5(
        F.concat_ws(":", F.lit(SHUFFLE_SEED), F.col("epoch"), F.col("doc_id"))
    )
    keyed = epochs.select(
        "epoch", "doc_id", key.alias("_k"), hex_band(key).alias("_band")
    )
    ranked = banded_rank(
        keyed,
        band_cols=["_band"],
        order_cols=["_k", "doc_id"],
        partition_cols=["epoch"],
        out_col="shuffle_rank",
    )
    return ranked.select("epoch", "doc_id", "shuffle_rank")


EPOCH_SHUFFLE_ORACLE = f"""
WITH e AS (
  SELECT doc_id, CAST(t.e AS INT) AS epoch
  FROM documents, LATERAL unnest(range(0, {SHUFFLE_EPOCHS})) AS t(e)
)
SELECT epoch, doc_id,
       CAST(row_number() OVER (
         PARTITION BY epoch
         ORDER BY md5('{SHUFFLE_SEED}' || ':' || epoch || ':' || doc_id),
                  doc_id
       ) AS BIGINT) AS shuffle_rank
FROM e
"""


def train_curriculum_order(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """(doc_id, stage, curriculum_rank): two-stage curriculum — stage
    0 is the Gopher-clean band (mean word length in [3, 10] and
    length >= 5 words, the same bands text_gopher_rules gates on),
    stage 1 the rest; within a stage the order is the seeded epoch-0
    shuffle hash. The global rank over (stage, hash) is a banded
    distributed rank (operators/distrank.py): band = (stage,
    hex-prefix of the hash), so no single task ever sorts the corpus.
    Mean word length strips ALL whitespace (tabs/newlines included,
    round-12 fix), matching the Gopher rule it cites. ``docs``
    overrides the corpus (r13: the curation capstone ranks only the
    SELECTED survivors — ranks must be contiguous over the subset)."""
    docs = (docs if docs is not None else _docs(spark, sf_dir)).select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("t")
    )
    # word count materialized once (the stage predicate references it
    # three times; inline, each reference re-split the document)
    docs = docs.withColumn(
        "__nw", F.size(F.split(F.trim("t"), r"\s+"))
    )
    n_words = F.col("__nw")
    mean_wl = F.when(
        n_words > 0,
        (F.length(F.regexp_replace(F.col("t"), r"\s", "")) / n_words),
    ).otherwise(F.lit(0.0))
    stage = F.when(
        (n_words >= 5) & (mean_wl >= 3) & (mean_wl <= 10), 0
    ).otherwise(1)
    key = F.md5(
        F.concat_ws(":", F.lit(SHUFFLE_SEED), F.lit(0), F.col("doc_id"))
    )
    staged = docs.select(
        "doc_id",
        stage.cast("int").alias("stage"),
        key.alias("k"),
        hex_band(key).alias("_band"),
    )
    ranked = banded_rank(
        staged,
        band_cols=["stage", "_band"],
        order_cols=["k", "doc_id"],
        out_col="curriculum_rank",
    )
    return ranked.select("doc_id", "stage", "curriculum_rank")


CURRICULUM_ORACLE = f"""
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS t FROM documents
),
feat AS (
  SELECT doc_id,
         len(string_split_regex(trim(t), '\\s+')) AS n_words,
         CASE WHEN len(string_split_regex(trim(t), '\\s+')) > 0
              THEN length(regexp_replace(t, '\\s', '', 'g'))
                   * 1.0 / len(string_split_regex(trim(t), '\\s+'))
              ELSE 0.0 END AS mean_wl
  FROM base
),
staged AS (
  SELECT doc_id,
         CAST(CASE WHEN n_words >= 5 AND mean_wl >= 3 AND mean_wl <= 10
              THEN 0 ELSE 1 END AS INT) AS stage,
         md5('{SHUFFLE_SEED}' || ':0:' || doc_id) AS k
  FROM feat
)
SELECT doc_id, stage,
       CAST(row_number() OVER (ORDER BY stage, k, doc_id) AS BIGINT)
         AS curriculum_rank
FROM staged
"""

QUERIES.update(
    {
        "train_epoch_shuffle": QuerySpec(
            train_epoch_shuffle, EPOCH_SHUFFLE_ORACLE
        ),
        "train_curriculum_order": QuerySpec(
            train_curriculum_order, CURRICULUM_ORACLE
        ),
    }
)


# ---------------------------------------------------------------------------
# Curriculum-ordered packing (round 11 — the composition the two
# pieces exist for): pack sequences in CURRICULUM order, so stage-0
# (clean-band) documents fill the earliest training sequences. A
# single global packing stream would be one all-corpus sort on one
# task; instead buckets are CONTIGUOUS curriculum-rank ranges of
# CURR_PACK_CHUNK docs (bucket = (rank-1) div CHUNK — deterministic,
# corpus-size-independent, bucket count grows with N), so buckets
# themselves are curriculum-ordered coarse segments, packing within a
# bucket follows the exact rank order, and every bucket packs in
# parallel. The seam cost is one partially-filled sequence per bucket
# boundary — the same trade the hash-bucketed packers already make,
# now aligned with the curriculum instead of cutting across it.
# ---------------------------------------------------------------------------

CURR_PACK_CHUNK = 128  # docs per contiguous curriculum bucket


def pack_curriculum_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, stage, curriculum_rank, bucket, n_tokens, seq_id,
    seq_offset): the packed training layout in curriculum order —
    same shared layout math as the other packers (_pack_layout), with
    the ordering key swapped for curriculum_rank and buckets made
    contiguous rank ranges."""
    cur = train_curriculum_order(spark, sf_dir)
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(_words(F.col("text"))).cast("long").alias("n_tokens"),
    )
    staged = cur.join(toks, "doc_id").select(
        "doc_id",
        "stage",
        "curriculum_rank",
        F.floor((F.col("curriculum_rank") - 1) / CURR_PACK_CHUNK)
        .cast("long")
        .alias("bucket"),
        "n_tokens",
    )
    return _pack_layout(staged, order_col="curriculum_rank")


PACK_CURRICULUM_ORACLE = f"""
WITH cur AS ({CURRICULUM_ORACLE}),
wtok AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+'))
              AS BIGINT) AS n_tokens
  FROM documents
),
toks AS (
  SELECT c.doc_id, c.stage, c.curriculum_rank,
         CAST((c.curriculum_rank - 1) // {CURR_PACK_CHUNK} AS BIGINT)
           AS bucket,
         w.n_tokens
  FROM cur c JOIN wtok w USING (doc_id)
), {_pack_sql_tail('toks', order_col='curriculum_rank',
                   extra_cols=', stage, curriculum_rank')}
"""

QUERIES.update(
    {
        "pack_curriculum_layout": QuerySpec(
            pack_curriculum_layout, PACK_CURRICULUM_ORACLE
        ),
    }
)


def pack_curriculum_vocab_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-12 composition the curriculum lane exists for:
    curriculum-ordered packing at EXACT token counts under the
    vendored vocab tokenizer — stage-0 (clean-band) documents fill
    the earliest training sequences AND sequence budgets count what
    the dataloader's real tokenizer counts, not whitespace words.
    All three ingredients are the shared definitions (banded
    distributed curriculum rank, _vocab_n_tokens_udf, _pack_layout),
    so none of the twins can diverge. Scale: the rank is banded
    (operators/distrank.py), the token count is one Arrow pass, the
    packing cumsum is per contiguous-rank bucket — no single-task
    stage anywhere."""
    cur = train_curriculum_order(spark, sf_dir)
    toks = _docs_rs_stripped(spark, sf_dir).select(
        "doc_id",
        _vocab_n_tokens_udf()(F.col("text")).alias("n_tokens"),
    )
    staged = cur.join(toks, "doc_id").select(
        "doc_id",
        "stage",
        "curriculum_rank",
        F.floor((F.col("curriculum_rank") - 1) / CURR_PACK_CHUNK)
        .cast("long")
        .alias("bucket"),
        "n_tokens",
    )
    return _pack_layout(staged, order_col="curriculum_rank")


PACK_CURRICULUM_VOCAB_ORACLE = f"""
WITH {_vocab_tokens_ctes()},
cur AS ({CURRICULUM_ORACLE}),
toks AS (
  SELECT c.doc_id, c.stage, c.curriculum_rank,
         CAST((c.curriculum_rank - 1) // {CURR_PACK_CHUNK} AS BIGINT)
           AS bucket,
         CAST(len(v.tk) AS BIGINT) AS n_tokens
  FROM cur c JOIN vtok v ON v.doc_id = c.doc_id
), {_pack_sql_tail('toks', order_col='curriculum_rank',
                   extra_cols=', stage, curriculum_rank')}
"""

QUERIES.update(
    {
        "pack_curriculum_vocab_layout": QuerySpec(
            pack_curriculum_vocab_layout, PACK_CURRICULUM_VOCAB_ORACLE
        ),
    }
)


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169). Reference has no data-selection surface (its
# corpus is hand-picked filings, finqa_dataset.py); this is the
# north-star extension: given a TARGET slice (here lang='en', the
# stand-in for "high-quality in-domain text") and a RAW pool
# (everything else), score each pool document by the log importance
# weight of its hashed bag-of-n-grams under smoothed target vs raw
# unigram bucket models, and keep the top-N most target-like docs.
#
#   features : word unigrams + bigrams, hashed to K=4096 buckets via
#              3 hex digits of md5(gram) — the paper's hashed n-gram
#              generative model, with the same md5-digit arithmetic
#              every split/sampler in this repo uses
#   models   : p̂_b = (t_b+1)/(T+K), q̂_b = (r_b+1)/(R+K)  (add-one)
#   weight   : log w(x) = Σ_b c_b(x)·(log2(t_b+1) − log2(r_b+1))
#                        + |x|·(log2(R+K) − log2(T+K))
#   resample : top-N by round(log w, 6) desc, doc_id tiebreak — the
#              deterministic twin of the paper's Gumbel resampling
#              (same estimator, reproducible under task retries)
#
# Scale: gram explode is narrow; per-(doc,bucket) counts are ONE
# shuffle with map-side combine; both bucket dictionaries aggregate
# to ≤K rows and BROADCAST by construction (K is a constant, never
# corpus-sized); totals ride as broadcast 1-row aggregates; top-N
# compiles to TakeOrderedAndProject (per-partition top-N + N-row
# driver merge, never a global sort). No corpus-sized shuffle after
# the count — the selection pass over 100 TB is one aggregation.
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 4096
DSIR_BUDGET = 100
DSIR_TARGET_LANG = "en"

_HEX = "0123456789abcdef"


def _gram_bucket(col):
    """First 3 hex chars of md5(gram) as an int in [0, 4096) — ONE
    conv, identical to the oracle's digit-by-digit strpos arithmetic
    (same base-16 expansion)."""
    return F.conv(F.substring(F.md5(col), 1, 3), 16, 10).cast("int")


_GRAM_BUCKET_SQL = (
    "((strpos('0123456789abcdef', substring(md5(g), 1, 1)) - 1) * 16"
    " + strpos('0123456789abcdef', substring(md5(g), 2, 1)) - 1) * 16"
    " + strpos('0123456789abcdef', substring(md5(g), 3, 1)) - 1"
)


def _dsir_doc_buckets(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Per-(doc, hashed-gram-bucket) counts with the doc's lang.
    ``docs`` overrides the table read (the streaming twin passes the
    micro-batch) — same columns (doc_id, lang, text) required."""
    if docs is None:
        # guarded scan-parallelism floor (batch path only — the
        # streaming twin owns its micro-batch partitioning): the
        # uni+bigram explode with per-gram md5 is map-side CPU on
        # what is otherwise one scan split locally; no-op at scale
        from finmapreduce_spark.operators.parallelism import scan_floor

        docs = scan_floor(
            _docs(spark, sf_dir).select("doc_id", "lang", "text"),
            "doc_id",
        )
    docs = docs.filter(F.col("text").isNotNull())
    w = F.col("__w")
    grams = docs.withColumn("__w", _words(F.col("text"))).select(
        "doc_id",
        "lang",
        F.explode(
            F.concat(
                w,
                F.when(
                    F.size(w) >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size(w) - 1),
                        lambda i: F.concat_ws(
                            " ",
                            F.element_at(w, i),
                            F.element_at(w, i + F.lit(1)),
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>")),
            )
        ).alias("g"),
    )
    return grams.select(
        "doc_id", "lang", _gram_bucket(F.col("g")).alias("b")
    ).groupBy("doc_id", "lang", "b").agg(F.count("*").alias("c"))


def _dsir_score(pool: DataFrame, tb: DataFrame, rb: DataFrame,
                tot: DataFrame) -> DataFrame:
    """Shared DSIR weight algebra: score (doc_id, lang, b, c) pool
    rows against bucket dictionaries tb=(b,t) / rb=(b,r) and the
    1-row totals tot=(t_tot, r_tot) → (doc_id, lang, n_grams, logw).
    Both dictionaries are ≤K rows by construction and broadcast."""
    k = F.lit(DSIR_BUCKETS)
    term = F.col("c") * (
        F.log2(F.coalesce(F.col("t"), F.lit(0)) + 1)
        - F.log2(F.coalesce(F.col("r"), F.lit(0)) + 1)
    )
    return (
        pool.join(F.broadcast(tb), "b", "left")
        .join(F.broadcast(rb), "b", "left")
        .groupBy("doc_id", "lang")
        .agg(F.sum(term).alias("s"), F.sum("c").alias("n_grams"))
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "logw",
            F.round(
                F.col("s")
                + F.col("n_grams")
                * (F.log2(F.col("r_tot") + k) - F.log2(F.col("t_tot") + k)),
                6,
            ),
        )
        .select("doc_id", "lang", "n_grams", "logw")
    )


def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    db = _dsir_doc_buckets(spark, sf_dir).persist()
    is_t = F.col("lang") == DSIR_TARGET_LANG
    tb = db.filter(is_t).groupBy("b").agg(F.sum("c").alias("t"))
    rb = db.filter(~is_t).groupBy("b").agg(F.sum("c").alias("r"))
    tot = (
        db.groupBy()
        .agg(
            F.sum(F.when(is_t, F.col("c")).otherwise(0)).alias("t_tot"),
            F.sum(F.when(~is_t, F.col("c")).otherwise(0)).alias("r_tot"),
        )
    )
    scored = (
        _dsir_score(db.filter(~is_t), tb, rb, tot)
        .orderBy(F.desc("logw"), "doc_id")
        .limit(DSIR_BUDGET)
    )
    return scored.select(
        "doc_id",
        "lang",
        "n_grams",
        "logw",
        F.row_number()
        .over(W.orderBy(F.desc("logw"), "doc_id"))
        .cast("long")
        .alias("rank"),
    )


_DSIR_CTES = f"""
w AS (
  SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM documents WHERE text IS NOT NULL
), g AS (
  SELECT doc_id, lang,
         unnest(list_concat(ws,
           list_transform(range(1, len(ws)),
                          i -> ws[i] || ' ' || ws[i + 1]))) AS g
  FROM w
), db AS (
  SELECT doc_id, lang, {_GRAM_BUCKET_SQL} AS b, count(*) AS c
  FROM g GROUP BY 1, 2, 3
), tb AS (
  SELECT b, CAST(sum(c) AS BIGINT) AS t FROM db
  WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY 1
), rb AS (
  SELECT b, CAST(sum(c) AS BIGINT) AS r FROM db
  WHERE lang <> '{DSIR_TARGET_LANG}' GROUP BY 1
), tot AS (
  SELECT
    CAST(coalesce(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN c END), 0)
         AS BIGINT) AS t_tot,
    CAST(coalesce(sum(CASE WHEN lang <> '{DSIR_TARGET_LANG}' THEN c END), 0)
         AS BIGINT) AS r_tot
  FROM db
)"""

DSIR_SELECT_ORACLE = f"""
WITH {_DSIR_CTES},
scored AS (
  SELECT d.doc_id, d.lang, CAST(sum(d.c) AS BIGINT) AS n_grams,
         round(sum(d.c * (log2(coalesce(t.t, 0) + 1)
                          - log2(coalesce(r.r, 0) + 1)))
               + sum(d.c) * (log2(r_tot + {DSIR_BUCKETS})
                             - log2(t_tot + {DSIR_BUCKETS})), 6) AS logw
  FROM db d LEFT JOIN tb t USING (b) LEFT JOIN rb r USING (b), tot
  WHERE d.lang <> '{DSIR_TARGET_LANG}'
  GROUP BY d.doc_id, d.lang, t_tot, r_tot
), top AS (
  SELECT * FROM scored ORDER BY logw DESC, doc_id LIMIT {DSIR_BUDGET}
)
SELECT doc_id, lang, n_grams, logw,
       CAST(row_number() OVER (ORDER BY logw DESC, doc_id) AS BIGINT) AS rank
FROM top
"""


def dsir_target_raw_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(p̂‖q̂) between the smoothed target and raw hashed-n-gram
    bucket models — the one-row diagnostic DSIR users read before
    trusting the weights (≈0 bits means the target is
    indistinguishable from the pool and selection is noise). Runs
    over the FULL K-bucket domain (spark.range(K)), so smoothing mass
    in buckets neither slice touches is counted identically to the
    oracle's range(K)."""
    db = _dsir_doc_buckets(spark, sf_dir)
    is_t = F.col("lang") == DSIR_TARGET_LANG
    tb = db.filter(is_t).groupBy("b").agg(F.sum("c").alias("t"))
    rb = db.filter(~is_t).groupBy("b").agg(F.sum("c").alias("r"))
    tot = db.groupBy().agg(
        F.sum(F.when(is_t, F.col("c")).otherwise(0)).alias("t_tot"),
        F.sum(F.when(~is_t, F.col("c")).otherwise(0)).alias("r_tot"),
    )
    k = F.lit(DSIR_BUCKETS)
    dom = spark.range(DSIR_BUCKETS).select(F.col("id").cast("int").alias("b"))
    p = (F.coalesce(F.col("t"), F.lit(0)) + 1) / (F.col("t_tot") + k)
    q = (F.coalesce(F.col("r"), F.lit(0)) + 1) / (F.col("r_tot") + k)
    return (
        dom.join(F.broadcast(tb), "b", "left")
        .join(F.broadcast(rb), "b", "left")
        .crossJoin(F.broadcast(tot))
        .groupBy()
        .agg(
            F.round(F.sum(p * F.log2(p / q)), 6).alias("kl_bits"),
            F.count("*").alias("n_buckets"),
            F.max("t_tot").alias("target_grams"),
            F.max("r_tot").alias("raw_grams"),
        )
    )


DSIR_KL_ORACLE = f"""
WITH {_DSIR_CTES},
dom AS (SELECT CAST(unnest(range({DSIR_BUCKETS})) AS INT) AS b),
pq AS (
  SELECT (coalesce(t.t, 0) + 1.0) / (tot.t_tot + {DSIR_BUCKETS}) AS p,
         (coalesce(r.r, 0) + 1.0) / (tot.r_tot + {DSIR_BUCKETS}) AS q,
         tot.t_tot, tot.r_tot
  FROM dom LEFT JOIN tb t USING (b) LEFT JOIN rb r USING (b), tot
)
SELECT round(sum(p * log2(p / q)), 6) AS kl_bits,
       count(*) AS n_buckets,
       CAST(max(t_tot) AS BIGINT) AS target_grams,
       CAST(max(r_tot) AS BIGINT) AS raw_grams
FROM pq
"""

QUERIES.update(
    {
        "dsir_importance_select": QuerySpec(
            dsir_importance_select, DSIR_SELECT_ORACLE
        ),
        "dsir_target_raw_kl": QuerySpec(dsir_target_raw_kl, DSIR_KL_ORACLE),
    }
)


# ---------------------------------------------------------------------------
# Incremental DSIR — the ingest-time form. The bucket models are
# pure ADDITIVE counters, so they persist and amortize exactly like
# the band-signature / winnow-fingerprint / URL-keeper stores: the
# incoming batch (doc_id % INGEST_MOD == 0, the catalog-wide ingest
# split) is scored against dictionaries built from HISTORY ONLY, and
# the keep decision is the thresholded importance weight (log w ≥ 0:
# the doc is literally more likely under the target model than the
# raw model) rather than batch-global top-N — the per-row-independent
# decision a streaming filter needs. Per-ingest cost: |delta| gram
# counting + two ≤K-row broadcast probes; the history dictionaries
# update by appending the batch's own bucket counts (the continuous
# twin in streaming/pipeline.py::serve_dsir_filter_continuous).
# ---------------------------------------------------------------------------

DSIR_KEEP_LOGW = 0.0


def dsir_incremental_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finmapreduce_spark.queries.dedup import INGEST_MOD

    db = _dsir_doc_buckets(spark, sf_dir).persist()
    is_t = F.col("lang") == DSIR_TARGET_LANG
    hist = db.filter(F.pmod("doc_id", F.lit(INGEST_MOD)) != 0)
    inc = db.filter(
        (F.pmod("doc_id", F.lit(INGEST_MOD)) == 0) & ~is_t
    )
    tb = hist.filter(is_t).groupBy("b").agg(F.sum("c").alias("t"))
    rb = hist.filter(~is_t).groupBy("b").agg(F.sum("c").alias("r"))
    tot = hist.groupBy().agg(
        F.sum(F.when(is_t, F.col("c")).otherwise(0)).alias("t_tot"),
        F.sum(F.when(~is_t, F.col("c")).otherwise(0)).alias("r_tot"),
    )
    return _dsir_score(inc, tb, rb, tot).select(
        "doc_id",
        "lang",
        "n_grams",
        "logw",
        (F.col("logw") >= DSIR_KEEP_LOGW).alias("keep"),
    )


def _dsir_inc_oracle() -> str:
    from finmapreduce_spark.queries.dedup import INGEST_MOD

    return f"""
WITH w AS (
  SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM documents WHERE text IS NOT NULL
), g AS (
  SELECT doc_id, lang,
         unnest(list_concat(ws,
           list_transform(range(1, len(ws)),
                          i -> ws[i] || ' ' || ws[i + 1]))) AS g
  FROM w
), db AS (
  SELECT doc_id, lang, {_GRAM_BUCKET_SQL} AS b, count(*) AS c
  FROM g GROUP BY 1, 2, 3
), hist AS (
  SELECT * FROM db WHERE doc_id % {INGEST_MOD} <> 0
), tb AS (
  SELECT b, CAST(sum(c) AS BIGINT) AS t FROM hist
  WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY 1
), rb AS (
  SELECT b, CAST(sum(c) AS BIGINT) AS r FROM hist
  WHERE lang <> '{DSIR_TARGET_LANG}' GROUP BY 1
), tot AS (
  SELECT
    CAST(coalesce(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN c END), 0)
         AS BIGINT) AS t_tot,
    CAST(coalesce(sum(CASE WHEN lang <> '{DSIR_TARGET_LANG}' THEN c END), 0)
         AS BIGINT) AS r_tot
  FROM hist
)
SELECT d.doc_id, d.lang, CAST(sum(d.c) AS BIGINT) AS n_grams,
       round(sum(d.c * (log2(coalesce(t.t, 0) + 1)
                        - log2(coalesce(r.r, 0) + 1)))
             + sum(d.c) * (log2(r_tot + {DSIR_BUCKETS})
                           - log2(t_tot + {DSIR_BUCKETS})), 6) AS logw,
       round(sum(d.c * (log2(coalesce(t.t, 0) + 1)
                        - log2(coalesce(r.r, 0) + 1)))
             + sum(d.c) * (log2(r_tot + {DSIR_BUCKETS})
                           - log2(t_tot + {DSIR_BUCKETS})), 6)
         >= {DSIR_KEEP_LOGW} AS keep
FROM db d LEFT JOIN tb t USING (b) LEFT JOIN rb r USING (b), tot
WHERE d.lang <> '{DSIR_TARGET_LANG}' AND d.doc_id % {INGEST_MOD} = 0
GROUP BY d.doc_id, d.lang, t_tot, r_tot
"""


QUERIES.update(
    {
        "dsir_incremental_score": QuerySpec(
            dsir_incremental_score, _dsir_inc_oracle()
        ),
    }
)


# ---------------------------------------------------------------------------
# Balanced training-shard assignment — the last dataloader-lane step:
# write the corpus into S shards whose TOKEN totals balance, so no
# worker starves at epoch end. Deterministic LPT-flavored round-robin:
# rank docs by (n_tokens DESC, md5(doc_id), doc_id) and assign shard =
# (rank − 1) mod S — sorting by size first means each round of S
# consecutive ranks places one near-equal-size doc per shard (the
# classic longest-processing-time heuristic in its streaming form).
#
# Scale: the rank is the banded distributed rank (operators/
# distrank.py) with a TWO-LEVEL band (exact token count, then a hex
# prefix of the doc-id hash) — monotone under the sort order, and the
# secondary hash band splits a mode-length pile (at web scale the
# modal document length holds percents of the corpus) across 256
# sub-bands, so no window task sorts more than |mode|/256 rows.
# ---------------------------------------------------------------------------

SHARD_COUNT = 8


def _shard_ranked(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    docs = (docs if docs is not None else _docs(spark, sf_dir)).select(
        "doc_id",
        F.size(_words(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long")
        .alias("n_tokens"),
    )
    key = F.md5(F.col("doc_id").cast("string"))
    keyed = docs.select(
        "doc_id",
        "n_tokens",
        (-F.col("n_tokens")).alias("_nb"),
        key.alias("_k"),
        hex_band(key).alias("_hband"),
    )
    ranked = banded_rank(
        keyed,
        band_cols=["_nb", "_hband"],
        order_cols=["_nb", "_k", "doc_id"],
        out_col="lpt_rank",
    )
    return ranked.select(
        "doc_id",
        "n_tokens",
        "lpt_rank",
        F.pmod(F.col("lpt_rank") - 1, F.lit(SHARD_COUNT))
        .cast("long")
        .alias("shard"),
    )


def train_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shard_ranked(spark, sf_dir)


def train_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard doc/token totals + balance ratio vs the ideal
    (corpus_tokens / S) — the number a dataloader reads before
    trusting the layout. The 1-row corpus total broadcasts."""
    assigned = _shard_ranked(spark, sf_dir)
    tot = assigned.agg(
        (F.sum("n_tokens") / F.lit(SHARD_COUNT)).alias("ideal")
    )
    return (
        assigned.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "shard",
            "n_docs",
            "shard_tokens",
            F.round(F.col("shard_tokens") / F.col("ideal"), 6).alias(
                "balance"
            ),
        )
    )


_SHARD_CTE = f"""
ranked AS (
  SELECT doc_id, n_tokens,
         CAST(row_number() OVER (
           ORDER BY -n_tokens, md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS BIGINT) AS lpt_rank
  FROM (SELECT doc_id,
               CAST(len(string_split_regex(trim(lower(coalesce(text, ''))),
                                         '\\s+'))
                    AS BIGINT) AS n_tokens
        FROM documents)
), assigned AS (
  SELECT doc_id, n_tokens, lpt_rank,
         CAST((lpt_rank - 1) % {SHARD_COUNT} AS BIGINT) AS shard
  FROM ranked
)"""

SHARD_ASSIGN_ORACLE = f"""
WITH {_SHARD_CTE}
SELECT doc_id, n_tokens, lpt_rank, shard FROM assigned
"""

SHARD_BALANCE_ORACLE = f"""
WITH {_SHARD_CTE},
tot AS (SELECT sum(n_tokens) * 1.0 / {SHARD_COUNT} AS ideal FROM assigned)
SELECT shard,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
       round(sum(n_tokens) / ideal, 6) AS balance
FROM assigned, tot
GROUP BY shard, ideal
"""

QUERIES.update(
    {
        "train_shard_assignment": QuerySpec(
            train_shard_assignment, SHARD_ASSIGN_ORACLE
        ),
        "train_shard_balance": QuerySpec(
            train_shard_balance, SHARD_BALANCE_ORACLE
        ),
    }
)


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis 2006):
# each doc draws an exponential race key −ln(u)/w (u uniform,
# w = the doc's weight — here its token count, standing in for any
# quality score); the N smallest keys are EXACTLY a weight-
# proportional sample without replacement. The "randomness" is the
# repo-standard md5 16-bit bucket mapped to (0,1), so the sample is
# deterministic, recompute-stable under task retries, and replayable
# by the oracle — the property rand() cannot give (same argument as
# sample_domain_mix). Selection is top-N on the ROUNDED key with a
# doc_id tiebreak (cross-engine order stability); the plan is
# TakeOrderedAndProject — per-partition heaps, an N-row driver merge,
# no global sort. A one-pass, shuffle-free weighted subsample at any
# corpus size.
# ---------------------------------------------------------------------------

WSAMPLE_N = 100


def sample_weighted_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finmapreduce_spark.queries.textops import _hash_bucket_expr

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(_words(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long")
        .alias("n_tokens"),
    )
    u = (_hash_bucket_expr(F.col("doc_id")) + 1) / F.lit(65537.0)
    w = F.greatest(F.col("n_tokens"), F.lit(1))
    keyed = docs.withColumn("es_key", F.round(-F.log(u) / w, 6))
    top = keyed.orderBy("es_key", "doc_id").limit(WSAMPLE_N)
    return top.select(
        "doc_id",
        "n_tokens",
        "es_key",
        F.row_number()
        .over(W.orderBy("es_key", "doc_id"))
        .cast("long")
        .alias("sample_rank"),
    )


def _wsample_oracle() -> str:
    from finmapreduce_spark.queries.textops import SPLIT_SQL_BUCKET

    return f"""
WITH keyed AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(lower(coalesce(text, ''))),
                                     '\\s+')) AS BIGINT) AS n_tokens,
         round(-ln((({SPLIT_SQL_BUCKET}) + 1) / 65537.0)
               / greatest(len(string_split_regex(trim(lower(
                     coalesce(text, ''))), '\\s+')), 1), 6) AS es_key
  FROM documents
), top AS (
  SELECT * FROM keyed ORDER BY es_key, doc_id LIMIT {WSAMPLE_N}
)
SELECT doc_id, n_tokens, es_key,
       CAST(row_number() OVER (ORDER BY es_key, doc_id) AS BIGINT)
         AS sample_rank
FROM top
"""


QUERIES.update(
    {
        "sample_weighted_es": QuerySpec(sample_weighted_es, _wsample_oracle()),
    }
)


# ---------------------------------------------------------------------------
# Curation capstone (r13): ONE end-to-end DAG entry composing the
# production curation pipeline the individual lanes exist for —
#
#   cleaning funnel (HTML extract ∘ Gopher gate ∘ exact-fp dedup)
#   ∘ master keep-list (all five dedup signals → CC → min-id keeper)
#   ∘ DSIR importance selection (keep all target-lang survivors +
#     top-N pool docs by hashed-n-gram importance)
#   ∘ curriculum-ordered packing over the SELECTED set (ranks
#     recomputed contiguous on the survivors — banded)
#   ∘ LPT shard assignment (two-level banded rank)
#
# Each stage is certified alone elsewhere; this entry pins the
# COMPOSITION — the plan shape a production run executes (the same
# argument as dedup_master_keep_list). Output: per (shard, stage)
# doc/token/sequence totals with the funnel counts as certification
# scalars, so a divergence ANYWHERE in the chain flips a value.
#
# Scale: every stage keeps its certified shape — the funnel is one
# projection + groupBy, the keep-list's generators are banded/grid,
# DSIR is one bucket shuffle + TakeOrdered, the curriculum and LPT
# ranks are banded, the packing cumsum is per contiguous-rank bucket,
# and the final report is one (shard, stage) groupBy.
# ---------------------------------------------------------------------------


def curation_pipeline_frames(spark: SparkSession, sf_dir: str) -> dict:
    """Run the curation pipeline once and return its stage frames —
    the shared engine behind curation_e2e_report (the certification
    aggregate) and the `python -m finmapreduce_spark.curate` CLI
    (which WRITES the artifacts a training job consumes). Keys:
    clean_kept, clean_unique, survivors, selected, layout, sharded,
    funnel (1-row counts)."""
    from finmapreduce_spark.queries.dedup import dedup_master_keep_list
    from finmapreduce_spark.queries.textops import cleaning_stage

    from finmapreduce_spark.queries.sketches import (
        _qsk_base,
        qsk_length_cutoff,
    )

    docs = _docs(spark, sf_dir)
    staged = cleaning_stage(docs)
    clean_kept = keep(staged.filter(F.col("keep")))
    clean_unique = (
        clean_kept.groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # p99 length-outlier trim (r13 → r14): the deterministic quantile
    # sketch's stated purpose, applied between the cleaning funnel and
    # the keep-list. The cutoff is ONE broadcast scalar from the
    # capacity-bounded sampler (recompute-stable across jobs/engines —
    # percentile_approx is not); the trim itself is a per-row
    # predicate, so this stage adds a left join to the narrow length
    # projection and nothing corpus-shaped. Docs with NULL text carry
    # no length row and pass untrimmed (left-join semantics in both
    # engines).
    # ONE persisted _qsk_base feeds the lens projection AND both plan
    # branches inside the cutoff (threshold agg + sample join) —
    # unpersisted, those were 3 corpus scans of the same projection
    # (round-14 advice). Kept, like the other frames of this bundle:
    # owned by the caller's scratch block (curate.run opens one), or
    # the caller's clearCache with none open.
    qbase = keep(_qsk_base(docs))
    lens = qbase.select("doc_id", "val")
    cutoff = qsk_length_cutoff(spark, base=qbase)
    trimmed = (
        clean_unique.join(lens, "doc_id", "left")
        .crossJoin(F.broadcast(cutoff))
        .filter(F.col("val").isNull() | (F.col("val") <= F.col("cutoff")))
        .select("doc_id")
    )
    keeplist = dedup_master_keep_list(spark, sf_dir).select("doc_id")
    survivors = keep(trimmed.join(keeplist, "doc_id"))

    db = keep(_dsir_doc_buckets(spark, sf_dir))
    is_t = F.col("lang") == DSIR_TARGET_LANG
    tb = db.filter(is_t).groupBy("b").agg(F.sum("c").alias("t"))
    rb = db.filter(~is_t).groupBy("b").agg(F.sum("c").alias("r"))
    tot = db.groupBy().agg(
        F.sum(F.when(is_t, F.col("c")).otherwise(0)).alias("t_tot"),
        F.sum(F.when(~is_t, F.col("c")).otherwise(0)).alias("r_tot"),
    )
    pool = db.join(survivors, "doc_id")
    sel_nt = (
        _dsir_score(pool.filter(~is_t), tb, rb, tot)
        .orderBy(F.desc("logw"), "doc_id")
        .limit(DSIR_BUDGET)
        .select("doc_id")
    )
    surv_t = pool.filter(is_t).select("doc_id").distinct()
    selected = keep(surv_t.unionByName(sel_nt))

    sel_docs = keep(docs.join(selected, "doc_id"))
    cur = train_curriculum_order(spark, sf_dir, docs=sel_docs)
    toks = sel_docs.select(
        "doc_id",
        F.size(_words(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long")
        .alias("n_tokens"),
    )
    layout = _pack_layout(
        cur.join(toks, "doc_id").select(
            "doc_id",
            "stage",
            "curriculum_rank",
            F.floor((F.col("curriculum_rank") - 1) / CURR_PACK_CHUNK)
            .cast("long")
            .alias("bucket"),
            "n_tokens",
        ),
        order_col="curriculum_rank",
    )
    sharded = _shard_ranked(spark, sf_dir, docs=sel_docs).select(
        "doc_id", "shard"
    )

    funnel = (
        docs.agg(F.count("*").alias("n_raw"))
        .crossJoin(
            F.broadcast(clean_kept.agg(F.count("*").alias("n_clean_kept")))
        )
        .crossJoin(
            F.broadcast(
                clean_unique.agg(F.count("*").alias("n_clean_unique"))
            )
        )
        .crossJoin(
            F.broadcast(trimmed.agg(F.count("*").alias("n_len_kept")))
        )
        .crossJoin(
            F.broadcast(survivors.agg(F.count("*").alias("n_dedup_kept")))
        )
        .crossJoin(
            F.broadcast(selected.agg(F.count("*").alias("n_selected")))
        )
    )
    return {
        "clean_kept": clean_kept,
        "clean_unique": clean_unique,
        "survivors": survivors,
        "selected": selected,
        "layout": layout,
        "sharded": sharded,
        "funnel": funnel,
    }


def curation_e2e_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    fr = curation_pipeline_frames(spark, sf_dir)
    layout, sharded, funnel = fr["layout"], fr["sharded"], fr["funnel"]
    return (
        layout.join(sharded, "doc_id")
        .groupBy("shard", "stage")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("cell_tokens"),
            F.countDistinct(
                F.col("bucket") * F.lit(1_000_000) + F.col("seq_id")
            ).alias("n_seqs"),
        )
        .crossJoin(F.broadcast(funnel))
        .select(
            "shard",
            "stage",
            "n_docs",
            "cell_tokens",
            "n_seqs",
            "n_raw",
            "n_clean_kept",
            "n_clean_unique",
            "n_len_kept",
            "n_dedup_kept",
            "n_selected",
        )
    )


def _curation_oracle() -> str:
    from finmapreduce_spark.queries.dedup import DEDUP_MASTER_KEEP_ORACLE
    # _qsk_shared, not sketches: sketches.py itself imports this
    # module at init (the Bloom oracle's shingle SQL), so importing
    # back into sketches here would be a cycle.
    from finmapreduce_spark.queries._qsk_shared import qsk_cutoff_sql_ctes
    from finmapreduce_spark.queries.textops import (
        _EXTRACT_SQL,
        _GOPHER_KEEP_SQL,
        _GOPHER_M_SQL,
        _PAGE_SQL,
    )

    return f"""
WITH RECURSIVE
page AS (SELECT doc_id, {_PAGE_SQL} AS html FROM documents),
stagedc AS (SELECT doc_id, {_EXTRACT_SQL} AS extracted FROM page),
cleaned AS (
  SELECT doc_id, md5(extracted) AS fp,{_GOPHER_M_SQL}
  FROM (SELECT doc_id, extracted,
               string_split_regex(trim(extracted), '\\s+') AS ws
        FROM stagedc)
),
ckeep AS (SELECT doc_id, fp FROM cleaned WHERE {_GOPHER_KEEP_SQL}),
cuniq AS (SELECT min(doc_id) AS doc_id FROM ckeep GROUP BY fp),
{qsk_cutoff_sql_ctes("q")},
trimmed AS (
  SELECT u.doc_id FROM cuniq u
  LEFT JOIN qbase b USING (doc_id)
  CROSS JOIN qcutoff c
  WHERE b.val IS NULL OR b.val <= c.cutoff
),
keepl AS ({DEDUP_MASTER_KEEP_ORACLE}),
surv AS (SELECT u.doc_id FROM trimmed u JOIN keepl k USING (doc_id)),
{_DSIR_CTES},
pool AS (SELECT d.* FROM db d JOIN surv USING (doc_id)),
scored AS (
  SELECT d.doc_id,
         round(sum(d.c * (log2(coalesce(t.t, 0) + 1)
                          - log2(coalesce(r.r, 0) + 1)))
               + sum(d.c) * (log2(r_tot + {DSIR_BUCKETS})
                             - log2(t_tot + {DSIR_BUCKETS})), 6) AS logw
  FROM pool d LEFT JOIN tb t USING (b) LEFT JOIN rb r USING (b), tot
  WHERE d.lang <> '{DSIR_TARGET_LANG}'
  GROUP BY d.doc_id, t_tot, r_tot
),
selnt AS (
  SELECT doc_id FROM scored ORDER BY logw DESC, doc_id LIMIT {DSIR_BUDGET}
),
selected AS (
  SELECT DISTINCT doc_id FROM pool WHERE lang = '{DSIR_TARGET_LANG}'
  UNION ALL
  SELECT doc_id FROM selnt
),
seldocs AS (SELECT d.* FROM documents d JOIN selected USING (doc_id)),
feat AS (
  SELECT doc_id,
         len(string_split_regex(trim(coalesce(text, '')), '\\s+'))
           AS n_words,
         CASE WHEN len(string_split_regex(trim(coalesce(text, '')),
                                          '\\s+')) > 0
              THEN length(regexp_replace(coalesce(text, ''),
                                         '\\s', '', 'g'))
                   * 1.0
                   / len(string_split_regex(trim(coalesce(text, '')),
                                            '\\s+'))
              ELSE 0.0 END AS mean_wl
  FROM seldocs
),
cur AS (
  SELECT doc_id, stage,
         CAST(row_number() OVER (ORDER BY stage, k, doc_id) AS BIGINT)
           AS curriculum_rank
  FROM (SELECT doc_id,
               CAST(CASE WHEN n_words >= 5 AND mean_wl >= 3
                              AND mean_wl <= 10
                    THEN 0 ELSE 1 END AS INT) AS stage,
               md5('{SHUFFLE_SEED}' || ':0:' || doc_id) AS k
        FROM feat)
),
ctoks AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(lower(coalesce(text, ''))),
                                     '\\s+')) AS BIGINT) AS n_tokens
  FROM seldocs
),
ptoks AS (
  SELECT c.doc_id, c.stage, c.curriculum_rank,
         CAST((c.curriculum_rank - 1) // {CURR_PACK_CHUNK} AS BIGINT)
           AS bucket,
         t.n_tokens
  FROM cur c JOIN ctoks t USING (doc_id)
),
packedc AS (
  SELECT doc_id, stage, bucket, n_tokens,
         sum(n_tokens) OVER (PARTITION BY bucket ORDER BY curriculum_rank
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS cum_before
  FROM ptoks
),
clayout AS (
  SELECT doc_id, stage, bucket, n_tokens,
         CAST(floor(cum_before / {SEQ_BUDGET}) AS BIGINT) AS seq_id
  FROM packedc
),
lpt AS (
  SELECT doc_id,
         CAST((row_number() OVER (
             ORDER BY -n_tokens, md5(CAST(doc_id AS VARCHAR)), doc_id
           ) - 1) % {SHARD_COUNT} AS BIGINT) AS shard
  FROM ctoks
),
funnel AS (
  SELECT (SELECT count(*) FROM documents) AS n_raw,
         (SELECT count(*) FROM ckeep) AS n_clean_kept,
         (SELECT count(*) FROM cuniq) AS n_clean_unique,
         (SELECT count(*) FROM trimmed) AS n_len_kept,
         (SELECT count(*) FROM surv) AS n_dedup_kept,
         (SELECT count(*) FROM selected) AS n_selected
)
SELECT l.shard, p.stage,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(p.n_tokens) AS BIGINT) AS cell_tokens,
       CAST(count(DISTINCT p.bucket * 1000000 + p.seq_id) AS BIGINT)
         AS n_seqs,
       CAST(f.n_raw AS BIGINT) AS n_raw,
       CAST(f.n_clean_kept AS BIGINT) AS n_clean_kept,
       CAST(f.n_clean_unique AS BIGINT) AS n_clean_unique,
       CAST(f.n_len_kept AS BIGINT) AS n_len_kept,
       CAST(f.n_dedup_kept AS BIGINT) AS n_dedup_kept,
       CAST(f.n_selected AS BIGINT) AS n_selected
FROM clayout p JOIN lpt l USING (doc_id), funnel f
GROUP BY l.shard, p.stage, f.n_raw, f.n_clean_kept, f.n_clean_unique,
         f.n_len_kept, f.n_dedup_kept, f.n_selected
"""


QUERIES.update(
    {
        "curation_e2e_report": QuerySpec(
            curation_e2e_report, _curation_oracle()
        ),
    }
)


# ---------------------------------------------------------------------------
# Negative-signal quality classifier (r13 frontier): contrastive
# training on the ENGINE'S OWN curation signals — no human labels.
# Positives are the docs the funnel would ship (Gopher keep AND not a
# near-dup cluster loser); negatives are what it rejects (Gopher
# fails ∪ non-canonical near-dups — the boilerplate/duplication
# class). The averaged perceptron then learns a hashed-BoW scorer
# that generalizes those rules to unseen docs — the fasttext-style
# bootstrap every production quality pipeline runs (CCNet/Gopher
# labels → linear scorer → corpus-wide inference at a fraction of
# the rule battery's cost). Reuses the ENTIRE certified trainer
# (_cls_multiclass_train as a one-class call — integer arithmetic,
# bit-identical oracle) with only the label CTE swapped; Spark-side
# labels come from the same cleaning_stage / dedup_cluster_canonical
# operators the funnel runs, so the twins cannot diverge on labeling.
#
# Honest accuracy note (the langid convention): the synthetic corpus
# draws every doc from one shared vocabulary, so hashed-BoW barely
# separates the funnel classes here (train acc 0.55 vs 0.52
# majority at sf0.01). What the catalog certifies is the LABELING
# COMPOSITION + the distributed training arithmetic; on a real crawl
# the Gopher-fail/duplication classes have strongly distinct token
# distributions (boilerplate, spam patterns) and this exact recipe
# is the standard production bootstrap.
# ---------------------------------------------------------------------------


def classifier_quality_contrastive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from finmapreduce_spark.queries.dedup import dedup_cluster_canonical
    from finmapreduce_spark.queries.textops import cleaning_stage

    docs = _docs(spark, sf_dir)
    keepf = cleaning_stage(docs).select("doc_id", "keep")
    losers = (
        dedup_cluster_canonical(spark, sf_dir)
        .filter(~F.col("is_canonical"))
        .select("doc_id", F.lit(True).alias("is_loser"))
    )
    ydf = (
        docs.join(keepf, "doc_id")
        .join(losers, "doc_id", "left")
        .select(
            "doc_id",
            F.lit("ship").alias("cls"),
            F.when(F.col("keep") & F.col("is_loser").isNull(), 1)
            .otherwise(-1)
            .alias("y"),
        )
    )
    feat = _cls_features_unlabeled(docs)
    weights, acc, margins, _ = _cls_multiclass_train(feat, ydf, ["ship"])
    return _cls_binary_margins(weights, acc, margins)


def _quality_cls_oracle() -> str:
    from finmapreduce_spark.queries.dedup import DEDUP_LSH_ORACLE
    from finmapreduce_spark.queries.textops import (
        _EXTRACT_SQL,
        _GOPHER_KEEP_SQL,
        _GOPHER_M_SQL,
        _PAGE_SQL,
    )

    prelude = f"""page AS (
  SELECT doc_id, {_PAGE_SQL} AS html FROM documents
), stagedq AS (
  SELECT doc_id, {_EXTRACT_SQL} AS extracted FROM page
), gq AS (
  SELECT doc_id,{_GOPHER_M_SQL}
  FROM (SELECT doc_id, extracted,
               string_split_regex(trim(extracted), '\\s+') AS ws
        FROM stagedq)
), ckq AS (
  SELECT doc_id, {_GOPHER_KEEP_SQL} AS keep FROM gq
), cpairs AS ({DEDUP_LSH_ORACLE}),
cedges AS (
  SELECT doc_a, doc_b FROM cpairs
  UNION ALL
  SELECT doc_b, doc_a FROM cpairs
),
cwalk(doc_id, label) AS (
  SELECT doc_a, doc_a FROM cedges
  UNION
  SELECT e.doc_b, w.label FROM cwalk w JOIN cedges e ON e.doc_a = w.doc_id
),
closers AS (
  SELECT doc_id FROM cwalk GROUP BY doc_id HAVING doc_id <> min(label)
), """
    labeled_sql = """SELECT d.doc_id,
       CASE WHEN k.keep AND l.doc_id IS NULL THEN 1 ELSE -1 END AS y,
       d.text
  FROM documents d
  JOIN ckq k USING (doc_id)
  LEFT JOIN closers l USING (doc_id)"""
    return _cls_oracle(
        labeled_sql=labeled_sql, prelude=prelude, recursive=True
    )


QUERIES.update(
    {
        "classifier_quality_contrastive": QuerySpec(
            classifier_quality_contrastive, _quality_cls_oracle()
        ),
    }
)


# ---------------------------------------------------------------------------
# DoReMi-style domain mixture reweighting (r13 frontier — Xie et al.
# 2023, deterministically miniaturized): the third member of the
# mixture lane. sample_domain_mix fixes quotas, sample_temperature_mix
# computes them from corpus counts; DoReMi LEARNS them from model
# loss: domains whose data the current proxy mixture predicts WORSE
# than a reference model (positive excess loss) get their weight
# multiplied up, so the final mixture spends its budget where
# learning headroom remains.
#
# Deterministic miniature: "models" are Laplace-smoothed unigram LMs
# over the DSIR hashed bucket space (K=4096 — domain count tables are
# |D|×K, never vocabulary-sized; the exact trade DSIR makes).
# Reference = global-corpus LM; round-r proxy = the w^(r)-weighted
# MIXTURE of per-domain LMs; excess_d = max(0, H_d(proxy) −
# H_d(ref)) (per-token cross-entropy on domain d's own empirical
# distribution); update w ← w·2^(η·excess), normalize. T = 2 rounds,
# UNROLLED — every step is joins/groupBys over the |D|×K grid, no
# driver loop, so the DuckDB oracle mirrors CTE-for-CTE. Excess is
# rounded to 6 dp BEFORE the pow and weights to 9 dp after each
# normalize, so both engines feed identical doubles into every
# round (the float-order discipline the trigram-LM oracle
# established).
#
# Scale: token→bucket counts are one map-side-combined groupBy; all
# downstream tables are ≤|D|×K rows. At 100 TB |D| is tens of
# domains and K stays fixed — the whole reweighting costs less than
# one corpus scan beyond the count table.
#
# Honest signal note (the langid convention): the synthetic sources
# draw from ONE shared vocabulary, so every domain's excess is ≈0 and
# the learned weights stay near-uniform here (spread 1.002 at
# sf0.01). The catalog certifies the REWEIGHTING ARITHMETIC — count
# tables, mixture construction, cross-entropies, multiplicative
# updates — which is domain-distribution-independent; on a real
# multi-domain corpus the excess spread is what drives the weights.
# ---------------------------------------------------------------------------

DRM_K = 4096
DRM_ETA = 1.0


def _doremi_bucket_counts(docs: DataFrame) -> DataFrame:
    """(source, b, c): hashed-bucket unigram counts per domain — the
    only corpus-sized pass of the DoReMi lane, and the additive state
    the continuous store twin accumulates (counts merge by SUM across
    epochs, the DSIR-store shape)."""
    h = F.md5(F.col("g"))
    digit = lambda i: F.instr(  # noqa: E731
        F.lit("0123456789abcdef"), F.substring(h, i, 1)
    ) - 1
    b = ((digit(1) * 16 + digit(2)) * 16 + digit(3)).cast("int")
    return (
        docs.select("source", F.explode(_words(F.col("text"))).alias("g"))
        .select("source", b.alias("b"))
        .groupBy("source", "b")
        .agg(F.count("*").cast("long").alias("c"))
    )


def doremi_weights_from_counts(
    spark: SparkSession, cb: DataFrame, persist: bool = True
) -> DataFrame:
    """Two unrolled multiplicative-weights rounds over
    Laplace-smoothed hashed-bucket LMs, from a (source, b, c) count
    table. Everything here is |D|×K-sized — corpus-size-independent —
    so the batch query and the continuous store's serve side share it
    verbatim (the twins cannot diverge). ``persist=False`` for
    streaming epochs, where per-call caching would leak across
    micro-batches."""
    _p = (lambda df: df.persist()) if persist else (lambda df: df)
    nd = cb.groupBy("source").agg(F.sum("c").alias("n_d"))
    gb = cb.groupBy("b").agg(F.sum("c").alias("cg"))
    ntot = cb.agg(F.sum("c").alias("n"))
    buckets = spark.range(DRM_K).select(F.col("id").cast("int").alias("b"))
    k = F.lit(DRM_K)

    grid = nd.crossJoin(buckets)
    pd_ = _p(
        grid.join(cb, ["source", "b"], "left").select(
            "source",
            "b",
            (
                (F.coalesce(F.col("c"), F.lit(0)) + 1) / (F.col("n_d") + k)
            ).alias("p_d"),
        )
    )
    pref = (
        buckets.join(gb, "b", "left")
        .crossJoin(F.broadcast(ntot))
        .select(
            "b",
            (
                (F.coalesce(F.col("cg"), F.lit(0)) + 1) / (F.col("n") + k)
            ).alias("p_ref"),
        )
    )
    ed = _p(
        cb.join(nd, "source").select(
            "source", "b", (F.col("c") / F.col("n_d")).alias("e")
        )
    )

    def xent(model, pcol, out):
        return (
            ed.join(model, "b")
            .groupBy("source")
            .agg((-F.sum(F.col("e") * F.log2(F.col(pcol)))).alias(out))
        )

    lref = xent(pref, "p_ref", "l_ref")

    ndom = nd.agg(F.count("*").alias("ndom"))
    prox0 = (
        pd_.groupBy("b")
        .agg(F.sum("p_d").alias("s"))
        .crossJoin(F.broadcast(ndom))
        .select("b", (F.col("s") / F.col("ndom")).alias("p0"))
    )
    ex1 = (
        xent(prox0, "p0", "l0")
        .join(lref, "source")
        .select(
            "source",
            F.greatest(
                F.round(F.col("l0") - F.col("l_ref"), 6), F.lit(0.0)
            ).alias("ex1"),
        )
    )
    w1raw = ex1.select(
        "source", "ex1", F.pow(F.lit(2.0), F.lit(DRM_ETA) * F.col("ex1")).alias("r")
    )
    w1 = _p(
        w1raw.crossJoin(
            F.broadcast(w1raw.agg(F.sum("r").alias("z")))
        )
        .select(
            "source", "ex1", F.round(F.col("r") / F.col("z"), 9).alias("w1")
        )
    )
    prox1 = (
        pd_.join(w1.select("source", "w1"), "source")
        .groupBy("b")
        .agg(F.sum(F.col("w1") * F.col("p_d")).alias("p1"))
    )
    ex2 = (
        xent(prox1, "p1", "l1")
        .join(lref, "source")
        .select(
            "source",
            F.greatest(
                F.round(F.col("l1") - F.col("l_ref"), 6), F.lit(0.0)
            ).alias("ex2"),
        )
    )
    w2raw = w1.join(ex2, "source").select(
        "source",
        "ex1",
        "ex2",
        (
            F.col("w1") * F.pow(F.lit(2.0), F.lit(DRM_ETA) * F.col("ex2"))
        ).alias("r2"),
    )
    return (
        w2raw.crossJoin(F.broadcast(w2raw.agg(F.sum("r2").alias("z2"))))
        .join(nd, "source")
        .select(
            "source",
            F.col("n_d").alias("n_tokens"),
            F.round("ex1", 6).alias("excess_r1"),
            F.round("ex2", 6).alias("excess_r2"),
            F.round(F.col("r2") / F.col("z2"), 6).alias("weight"),
        )
    )


def mixture_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    cb = _doremi_bucket_counts(docs).persist()
    return doremi_weights_from_counts(spark, cb)


_DRM_B_SQL = (
    "((strpos('0123456789abcdef', substring(md5(g), 1, 1)) - 1) * 16"
    " + strpos('0123456789abcdef', substring(md5(g), 2, 1)) - 1) * 16"
    " + strpos('0123456789abcdef', substring(md5(g), 3, 1)) - 1"
)

DOREMI_ORACLE = f"""
WITH tok AS (
  SELECT source,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS g
  FROM documents WHERE text IS NOT NULL
), cb AS (
  SELECT source, CAST({_DRM_B_SQL} AS INT) AS b,
         CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY 1, 2
), nd AS (SELECT source, sum(c) AS n_d FROM cb GROUP BY 1),
gb AS (SELECT b, sum(c) AS cg FROM cb GROUP BY 1),
ntot AS (SELECT sum(c) AS n FROM cb),
buckets AS (SELECT CAST(unnest(range({DRM_K})) AS INT) AS b),
grid AS (SELECT nd.source, nd.n_d, bk.b FROM nd CROSS JOIN buckets bk),
pd_ AS (
  SELECT g.source, g.b,
         (coalesce(cb.c, 0) + 1) * 1.0 / (g.n_d + {DRM_K}) AS p_d
  FROM grid g LEFT JOIN cb ON cb.source = g.source AND cb.b = g.b
),
pref AS (
  SELECT bk.b, (coalesce(gb.cg, 0) + 1) * 1.0 / (ntot.n + {DRM_K}) AS p_ref
  FROM buckets bk LEFT JOIN gb USING (b), ntot
),
ed AS (
  SELECT cb.source, cb.b, cb.c * 1.0 / nd.n_d AS e
  FROM cb JOIN nd USING (source)
),
lref AS (
  SELECT e.source, -sum(e.e * log2(p.p_ref)) AS l_ref
  FROM ed e JOIN pref p USING (b) GROUP BY 1
),
ndom AS (SELECT count(*) AS ndom FROM nd),
prox0 AS (
  SELECT b, sum(p_d) / ndom.ndom AS p0
  FROM pd_, ndom GROUP BY b, ndom.ndom
),
ex1 AS (
  SELECT l0.source,
         greatest(round(l0.l0 - lr.l_ref, 6), 0.0) AS ex1
  FROM (SELECT e.source, -sum(e.e * log2(p.p0)) AS l0
        FROM ed e JOIN prox0 p USING (b) GROUP BY 1) l0
  JOIN lref lr USING (source)
),
w1raw AS (
  SELECT source, ex1, power(2.0, {DRM_ETA} * ex1) AS r FROM ex1
),
w1 AS (
  SELECT source, ex1, round(r / z, 9) AS w1
  FROM w1raw, (SELECT sum(r) AS z FROM w1raw)
),
prox1 AS (
  SELECT p.b, sum(w.w1 * p.p_d) AS p1
  FROM pd_ p JOIN w1 w USING (source) GROUP BY 1
),
ex2 AS (
  SELECT l1.source,
         greatest(round(l1.l1 - lr.l_ref, 6), 0.0) AS ex2
  FROM (SELECT e.source, -sum(e.e * log2(p.p1)) AS l1
        FROM ed e JOIN prox1 p USING (b) GROUP BY 1) l1
  JOIN lref lr USING (source)
),
w2raw AS (
  SELECT w1.source, w1.ex1, ex2.ex2,
         w1.w1 * power(2.0, {DRM_ETA} * ex2.ex2) AS r2
  FROM w1 JOIN ex2 USING (source)
)
SELECT w.source, CAST(nd.n_d AS BIGINT) AS n_tokens,
       round(w.ex1, 6) AS excess_r1,
       round(w.ex2, 6) AS excess_r2,
       round(w.r2 / z.z2, 6) AS weight
FROM w2raw w, (SELECT sum(r2) AS z2 FROM w2raw) z
JOIN nd ON nd.source = w.source
"""

QUERIES.update(
    {
        "mixture_doremi_weights": QuerySpec(
            mixture_doremi_weights, DOREMI_ORACLE
        ),
    }
)


# ---------------------------------------------------------------------------
# Two-stage eval decontamination (r13): the production composition
# the Bloom pre-screen exists for. Stage 1 probes every training
# shingle against the O(m)-bit benchmark Bloom filter (broadcast bit
# set, Kirsch–Mitzenmacher positions — sketch_bloom_contamination's
# construction) and keeps only docs with ≥1 full-k hit; stage 2 runs
# the EXACT broadcast-set overlap, but only over the screened docs.
#
# The oracle is the SINGLE-STAGE exact computation
# (CONTAMINATION_ORACLE, verbatim): by the no-false-negative theorem
# (certified per-doc in sketch_bloom_contamination) every truly
# contaminated doc passes the screen, so the two-stage output is
# IDENTICAL to the single-stage one — the catalog entry certifies the
# composition loses nothing, which is exactly the license to deploy
# the cheap screen at 100 TB (the exact set costs O(|bench shingles|)
# broadcast memory; the filter costs O(m) bits, and stage 2's
# expensive join touches only the screened sliver).
#
# Honest local measurement: at sf0.1 the two-stage runs 10.8 s vs the
# single-stage 1.9 s — the synthetic benchmark set is tiny, so its
# exact broadcast is free and stage 1 is pure added work (k probe
# rows per shingle). The composition pays off exactly when the bench
# shingle set outgrows the broadcast budget, which is the 100 TB
# regime this entry certifies the semantics for — not a local win,
# and deliberately NOT in bench's headline set.
# ---------------------------------------------------------------------------


def contamination_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finmapreduce_spark.queries.sketches import (
        BLOOM_K,
        _bloom_positions,
    )

    # persist before exploding — the generator-rematerialization
    # lesson (SCALE.md round-13). floor=False: same unique-key
    # counter-case as contamination_ngram_overlap above.
    sh = (
        with_shingles(_docs(spark, sf_dir), floor=False)
        .filter(F.col("shingles").isNotNull())
        .select("doc_id", "shingles")
        .persist()
    )
    ex = sh.select("doc_id", F.explode("shingles").alias("g"))
    is_bench = F.pmod(F.col("doc_id"), F.lit(BENCH_MOD)) == 0
    bench_g = ex.filter(is_bench).select("g").distinct().persist()
    ks = F.explode(F.array(*[F.lit(j) for j in range(BLOOM_K)])).alias("j")
    bits = (
        bench_g.select("g", ks)
        .select(_bloom_positions(F.col("g"), F.col("j")).alias("bit"))
        .distinct()
        .withColumn("set_", F.lit(1))
    )
    train_g = ex.filter(~is_bench)
    screened = (
        train_g.select("doc_id", "g", ks)
        .select(
            "doc_id", "g", _bloom_positions(F.col("g"), F.col("j")).alias("bit")
        )
        .join(F.broadcast(bits), "bit", "left")
        .groupBy("doc_id", "g")
        .agg(
            (F.sum(F.coalesce("set_", F.lit(0))) == BLOOM_K).alias("hit")
        )
        .filter(F.col("hit"))
        .select("doc_id")
        .distinct()
    )
    tsh = train_g.join(screened, "doc_id").select(
        "doc_id", F.xxhash64("g").alias("s")
    )
    bset = bench_g.select(F.xxhash64("g").alias("s")).distinct().withColumn(
        "hit2", F.lit(1)
    )
    rep = (
        tsh.join(F.broadcast(bset), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce("hit2", F.lit(0))).alias("n_contaminated"),
        )
    )
    return rep.filter(F.col("n_contaminated") > 0).select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        F.round(F.col("n_contaminated") / F.col("n_shingles"), 6).alias(
            "contamination_ratio"
        ),
    )


QUERIES.update(
    {
        # oracle = the SINGLE-STAGE exact query: certifies the Bloom
        # screen composition is lossless (no-false-negative theorem)
        "contamination_two_stage": QuerySpec(
            contamination_two_stage, CONTAMINATION_ORACLE
        ),
    }
)
