"""Similarity search over the embedding column (north-star ANN ops).

Two paths:
- Brute-force cosine top-k — the exactness baseline. Queries are a
  small set broadcast against the corpus; per-query top-k via window.
- IVF-style two-stage search — the scale path: coarse quantize every
  vector to its nearest centroid, then search only the probed cell.
  Centroids here are per-label means (a converged k-means step, since
  labels are the synthetic cluster assignment); on a real corpus the
  centroid table comes from k-means and the plan is unchanged.

Scale: the brute-force side is O(|Q|·N) with |Q| tiny — Spark
broadcasts the query set, the corpus never shuffles. The IVF side
prunes N to N/cells before the distance computation; the centroid
table is broadcast (≪ memory). Similarity is generalized from the
reference's fuzzy-matching join (scripts/augment_finqa.py:163-276).

Also here: J4, the similarity θ-join (candidate equi-join on a
blocking key + similarity scoring + argmax per left row), which is
the reference's FinQA↔EDGAR linking pattern made first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from finmapreduce_spark.queries import QuerySpec
from finmapreduce_spark.queries.dedup import EMB_SQL, _dot, emb_table
from finmapreduce_spark.session import read_table

N_QUERIES = 10
TOP_K = 5


# The guarded embeddings read + its DuckDB twin live in dedup.py
# (queries/dedup.py::emb_table) so the embedding near-dup query and
# this whole module share ONE definition of "valid vector".
_emb = emb_table
_EMB_SQL = EMB_SQL


# ---------------------------------------------------------------------------
# Brute-force cosine top-k
# ---------------------------------------------------------------------------

def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k: broadcast the query set, window-rank per query.

    The dot product is a sequential double fold (zip_with+aggregate)
    — deterministic and bitwise equal to the oracle's, so the rank
    order (cosine desc, vec_id tiebreak) is engine-stable.
    """
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("q_v"), F.col("norm").alias("q_norm")
    )
    pairs = F.broadcast(q).crossJoin(emb.filter(F.col("vec_id") >= N_QUERIES))
    cos = _dot(F.col("q_v"), F.col("v")) / (F.col("q_norm") * F.col("norm"))
    ranked = pairs.select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        cos.alias("cosine"),
    ).withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
        ),
    )
    return ranked.filter(F.col("rank") <= TOP_K).select(
        "q_id", "rank", "neighbor_id", "neighbor_label",
        F.round("cosine", 6).alias("cosine"),
    )


ANN_BF_ORACLE = f"""
WITH v AS ({_EMB_SQL}),
q AS (SELECT vec_id AS q_id, v AS q_v, norm AS q_norm FROM v WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.q_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
         list_inner_product(q.q_v, c.v) / (q.q_norm * c.norm) AS cosine
  FROM q CROSS JOIN v c WHERE c.vec_id >= {N_QUERIES}
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT q_id, CAST(rank AS INT) AS rank, neighbor_id, neighbor_label,
       round(cosine, 6) AS cosine
FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# IVF-style search: centroid table → probe nearest cell → search cell
# ---------------------------------------------------------------------------

def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN: (1) per-label centroids (element-wise mean via
    posexplode + groupBy — at scale this is the k-means output table),
    (2) assign each query to its nearest centroid by cosine, (3) exact
    search within that cell only.

    Centroid components are rounded to 9dp *before* the distance
    computation so the float summation order inside the groupBy
    average cannot flip downstream comparisons across engines.
    """
    emb = _emb(spark, sf_dir)
    # element-wise mean per label
    comp = emb.select(
        "label", F.posexplode("v").alias("idx", "val")
    ).groupBy("label", "idx").agg(
        F.round(F.avg(F.col("val").cast("double")), 9).alias("c")
    )
    centroids = comp.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("idx", "c"))), lambda s: s.c
        ).alias("cv")
    ).withColumn("c_norm", F.sqrt(_dot(F.col("cv"), F.col("cv")))).select(
        F.col("label").alias("c_label"), "cv", "c_norm"
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("q_v"), F.col("norm").alias("q_norm")
    )
    # probe: nearest centroid per query (centroid table broadcast)
    probe = q.crossJoin(F.broadcast(centroids)).withColumn(
        "c_cos",
        F.round(_dot(F.col("q_v"), F.col("cv")) / (F.col("q_norm") * F.col("c_norm")), 9),
    ).withColumn(
        "c_rank",
        F.row_number().over(
            W.partitionBy("q_id").orderBy(F.desc("c_cos"), F.asc("c_label"))
        ),
    ).filter(F.col("c_rank") == 1).select("q_id", "q_v", "q_norm", "c_label")
    # search only the probed cell
    cell = probe.join(
        emb.filter(F.col("vec_id") >= N_QUERIES),
        probe.c_label == F.col("label"),
    )
    cos = _dot(F.col("q_v"), F.col("v")) / (F.col("q_norm") * F.col("norm"))
    ranked = cell.select(
        "q_id",
        F.col("c_label").alias("probed_label"),
        F.col("vec_id").alias("neighbor_id"),
        cos.alias("cosine"),
    ).withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
        ),
    )
    return ranked.filter(F.col("rank") <= TOP_K).select(
        "q_id", "probed_label", "rank", "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
    )


ANN_IVF_ORACLE = f"""
WITH v AS ({_EMB_SQL}),
comp AS (
  SELECT label, CAST(t.i AS INT) AS idx, round(avg(v[t.i + 1]), 9) AS c
  FROM v, LATERAL unnest(range(0, len(v))) AS t(i)
  GROUP BY label, t.i
),
centroids AS (
  SELECT label AS c_label, list(c ORDER BY idx) AS cv,
         sqrt(list_inner_product(list(c ORDER BY idx), list(c ORDER BY idx))) AS c_norm
  FROM comp GROUP BY label
),
q AS (SELECT vec_id AS q_id, v AS q_v, norm AS q_norm FROM v WHERE vec_id < {N_QUERIES}),
probe AS (
  SELECT q_id, q_v, q_norm, c_label FROM (
    SELECT q.*, c.c_label,
           row_number() OVER (PARTITION BY q_id
             ORDER BY round(list_inner_product(q.q_v, c.cv) / (q.q_norm * c.c_norm), 9) DESC,
                      c.c_label) AS c_rank
    FROM q CROSS JOIN centroids c
  ) WHERE c_rank = 1
),
cell AS (
  SELECT p.q_id, p.c_label AS probed_label, e.vec_id AS neighbor_id,
         list_inner_product(p.q_v, e.v) / (p.q_norm * e.norm) AS cosine
  FROM probe p JOIN v e ON e.label = p.c_label AND e.vec_id >= {N_QUERIES}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM cell
)
SELECT q_id, probed_label, CAST(rank AS INT) AS rank, neighbor_id,
       round(cosine, 6) AS cosine
FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# J4: similarity θ-join (reference augment_finqa.py:163-276 — candidate
# equi-join on blocking key, similarity score, keep best over threshold)
# ---------------------------------------------------------------------------

SIM_JOIN_THRESHOLD = 0.05


def j4_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 10th document finds its best same-lang match by token-set
    Jaccard (argmax over threshold — 'keep best if confidence > θ',
    reference :271)."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.array_distinct(F.split(F.trim(F.lower("text")), r"\s+")).alias("toks"),
    )
    left = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("l_id"), F.col("lang").alias("l_lang"),
        F.col("toks").alias("l_toks"),
    )
    right = docs.select(
        F.col("doc_id").alias("r_id"), F.col("lang").alias("r_lang"),
        F.col("toks").alias("r_toks"),
    )
    pairs = left.join(
        right,
        (F.col("l_lang") == F.col("r_lang")) & (F.col("l_id") != F.col("r_id")),
    )
    sim = F.round(
        F.size(F.array_intersect("l_toks", "r_toks"))
        / F.size(F.array_union("l_toks", "r_toks")),
        6,
    )
    ranked = pairs.select(
        "l_id", F.col("l_lang").alias("lang"), "r_id", sim.alias("similarity")
    ).withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("l_id").orderBy(F.desc("similarity"), F.asc("r_id"))
        ),
    )
    return (
        ranked.filter((F.col("rk") == 1) & (F.col("similarity") > SIM_JOIN_THRESHOLD))
        .select("l_id", "lang", F.col("r_id").alias("best_match"), "similarity")
    )


J4_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS toks
  FROM documents
),
pairs AS (
  SELECT l.doc_id AS l_id, l.lang AS lang, r.doc_id AS r_id,
         round(len(list_intersect(l.toks, r.toks))
               / len(list_distinct(list_concat(l.toks, r.toks))), 6) AS similarity
  FROM toks l JOIN toks r ON l.lang = r.lang AND l.doc_id <> r.doc_id
  WHERE l.doc_id % 10 = 0
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY l_id ORDER BY similarity DESC, r_id) AS rk
  FROM pairs
)
SELECT l_id, lang, r_id AS best_match, similarity
FROM ranked WHERE rk = 1 AND similarity > {SIM_JOIN_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Sign-bit LSH ANN: bucket = sign pattern of the first SIGN_BITS dims
# (an axis-aligned hyperplane family — the degenerate but fully
# engine-reproducible member of random-hyperplane LSH; swap the raw
# dims for pre-rotated projections and the plan is unchanged).
# ---------------------------------------------------------------------------

SIGN_BITS = 8


def _sign_sig(v):
    # try_element_at, not element_at: a ragged/truncated vector
    # shorter than SIGN_BITS would otherwise THROW
    # INVALID_ARRAY_INDEX_IN_ELEMENT_AT under ANSI; NULL >= 0 is
    # NULL, so missing dims pad '0' — exactly the DuckDB twin's
    # out-of-bounds v[i] → NULL → ELSE '0' behavior.
    return F.concat_ws(
        "",
        *[
            F.when(F.try_element_at(v, F.lit(i + 1)) >= 0, F.lit("1")).otherwise(
                F.lit("0")
            )
            for i in range(SIGN_BITS)
        ],
    )


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: hash every vector to its sign signature (a
    narrow map, no shuffle), then search only the query's bucket via
    an equi-join on the signature.

    Scale: 2^SIGN_BITS buckets partition the corpus; the join shuffles
    on the bucket key, so per-task work is bucket-sized, and recall is
    traded for a 2^bits candidate reduction — the standard LSH-ANN
    deal. Compare with ann_bruteforce_topk (exact) and ann_ivf_topk
    (data-dependent cells).
    """
    emb = _emb(spark, sf_dir).withColumn("sig", _sign_sig(F.col("v")))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q_v"),
        F.col("norm").alias("q_norm"),
        "sig",
    )
    cand = F.broadcast(q).join(
        emb.filter(F.col("vec_id") >= N_QUERIES), "sig"
    )
    cos = _dot(F.col("q_v"), F.col("v")) / (F.col("q_norm") * F.col("norm"))
    ranked = cand.select(
        "q_id",
        "sig",
        F.col("vec_id").alias("neighbor_id"),
        cos.alias("cosine"),
    ).withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
        ),
    )
    return ranked.filter(F.col("rank") <= TOP_K).select(
        "q_id", "sig", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine")
    )


_SIGN_SQL = " || ".join(
    f"(CASE WHEN v[{i + 1}] >= 0 THEN '1' ELSE '0' END)" for i in range(SIGN_BITS)
)

ANN_LSH_ORACLE = f"""
WITH v AS ({_EMB_SQL}),
sigs AS (SELECT *, {_SIGN_SQL} AS sig FROM v),
q AS (SELECT vec_id AS q_id, v AS q_v, norm AS q_norm, sig
      FROM sigs WHERE vec_id < {N_QUERIES}),
cand AS (
  SELECT q.q_id, q.sig, c.vec_id AS neighbor_id,
         list_inner_product(q.q_v, c.v) / (q.q_norm * c.norm) AS cosine
  FROM q JOIN sigs c USING (sig) WHERE c.vec_id >= {N_QUERIES}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM cand
)
SELECT q_id, sig, CAST(rank AS INT) AS rank, neighbor_id,
       round(cosine, 6) AS cosine
FROM ranked WHERE rank <= {TOP_K}
"""




# ---------------------------------------------------------------------------
# Edit-distance θ-join: best same-lang match by Levenshtein over a
# normalized prefix. Blocking (lang, length bucket) bounds candidates;
# the O(n·m) distance runs only on the 80-char prefixes of survivors —
# the fuzzy-matching shape of the reference generalized to edit
# distance (vs token-set Jaccard in j4).
# ---------------------------------------------------------------------------

LEV_PREFIX = 80
LEV_BUCKET = 400


def j_levenshtein_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-text docs are excluded from the match pool on BOTH sides:
    # their levenshtein distance is NULL, which Spark's ascending
    # window sorts FIRST while DuckDB sorts it LAST — an engine
    # divergence (caught by the adversarial parity sweep), and a doc
    # with no text has no meaningful best match anyway.
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).select(
        "doc_id",
        "lang",
        F.floor(F.col("n_chars") / LEV_BUCKET).alias("bucket"),
        F.substring(F.trim(F.lower("text")), 1, LEV_PREFIX).alias("prefix"),
    )
    left = docs.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("l_id"), F.col("lang").alias("l_lang"),
        F.col("bucket").alias("l_bucket"), F.col("prefix").alias("l_prefix"),
    )
    pairs = left.join(
        docs,
        (F.col("l_lang") == F.col("lang"))
        & (F.col("l_bucket") == F.col("bucket"))
        & (F.col("l_id") != F.col("doc_id")),
    )
    scored = pairs.select(
        "l_id",
        F.col("doc_id").alias("r_id"),
        F.levenshtein("l_prefix", "prefix").alias("distance"),
    )
    best = scored.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("l_id").orderBy(F.asc("distance"), F.asc("r_id"))
        ),
    )
    return best.filter(F.col("rk") == 1).select("l_id", F.col("r_id").alias("best_match"), "distance")


LEV_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang, CAST(floor(n_chars / {LEV_BUCKET}) AS BIGINT) AS bucket,
         substring(trim(lower(text)), 1, {LEV_PREFIX}) AS prefix
  FROM documents WHERE text IS NOT NULL
),
pairs AS (
  SELECT l.doc_id AS l_id, r.doc_id AS r_id,
         levenshtein(l.prefix, r.prefix) AS distance
  FROM d l JOIN d r
    ON l.lang = r.lang AND l.bucket = r.bucket AND l.doc_id <> r.doc_id
  WHERE l.doc_id % 20 = 0
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY l_id ORDER BY distance, r_id) AS rk
  FROM pairs
)
SELECT l_id, r_id AS best_match, distance FROM best WHERE rk = 1
"""


# ---------------------------------------------------------------------------
# Multi-probe IVF: same index, top-N_PROBES cells searched per query.
# ---------------------------------------------------------------------------

N_PROBES = 2


def _ivf_probe_topk(spark: SparkSession, sf_dir: str, n_probes: int) -> DataFrame:
    """IVF with the standard recall fix: probe the top-{p} centroids
    instead of 1 and re-rank the union of their cells (cells are
    label-disjoint, so the union needs no dedup).

    Scale: search cost scales linearly in probes ({p}× the single-
    probe cell scan) while recall approaches brute force — the knob a
    deployment turns until ann_recall_at_k clears its SLO. The probe
    table stays a broadcast crossJoin against the (tiny) centroid
    relation; only the cell scan fans out.
    """
    emb = _emb(spark, sf_dir)
    comp = emb.select(
        "label", F.posexplode("v").alias("idx", "val")
    ).groupBy("label", "idx").agg(
        F.round(F.avg(F.col("val").cast("double")), 9).alias("c")
    )
    centroids = comp.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("idx", "c"))), lambda s: s.c
        ).alias("cv")
    ).withColumn("c_norm", F.sqrt(_dot(F.col("cv"), F.col("cv")))).select(
        F.col("label").alias("c_label"), "cv", "c_norm"
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("q_v"), F.col("norm").alias("q_norm")
    )
    probe = q.crossJoin(F.broadcast(centroids)).withColumn(
        "c_cos",
        F.round(_dot(F.col("q_v"), F.col("cv")) / (F.col("q_norm") * F.col("c_norm")), 9),
    ).withColumn(
        "c_rank",
        F.row_number().over(
            W.partitionBy("q_id").orderBy(F.desc("c_cos"), F.asc("c_label"))
        ),
    ).filter(F.col("c_rank") <= n_probes).select("q_id", "q_v", "q_norm", "c_label")
    cell = probe.join(
        emb.filter(F.col("vec_id") >= N_QUERIES),
        probe.c_label == F.col("label"),
    )
    cos = _dot(F.col("q_v"), F.col("v")) / (F.col("q_norm") * F.col("norm"))
    ranked = cell.select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        cos.alias("cosine"),
    ).withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
        ),
    )
    return ranked.filter(F.col("rank") <= TOP_K).select(
        "q_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine")
    )


_ivf_probe_topk.__doc__ = _ivf_probe_topk.__doc__.format(p="n_probes")


def ann_ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry: the parametrized IVF at N_PROBES cells (see
    _ivf_probe_topk for the plan rationale)."""
    return _ivf_probe_topk(spark, sf_dir, N_PROBES)


def pick_n_probes(
    spark: SparkSession,
    sf_dir: str,
    target_recall: float,
    max_probes: int = 5,
) -> dict:
    """Recall-targeted probe tuning (ROADMAP round-3 #3): walk n_probes
    upward until mean recall@k on the query sample clears the target;
    return the chosen setting plus the measured curve.

    Driver-side loop over ≤max_probes distributed jobs — legitimate
    control flow (each iteration is one bounded evaluation on the
    query SAMPLE, the same budget argument as ann_recall_at_k); no
    per-row driver work. The ground truth is computed once and
    persisted across iterations.
    """
    bf = ann_bruteforce_topk(spark, sf_dir).select("q_id", "neighbor_id")
    bf = bf.persist()
    n_q = bf.select("q_id").distinct().count()
    curve = {}
    chosen = max_probes
    for n in range(1, max_probes + 1):
        approx = _ivf_probe_topk(spark, sf_dir, n).select("q_id", "neighbor_id")
        hits = approx.join(bf, ["q_id", "neighbor_id"]).count()
        recall = hits / (n_q * TOP_K)
        curve[n] = round(recall, 6)
        if recall >= target_recall:
            chosen = n
            break
    bf.unpersist()
    return {"n_probes": chosen, "target": target_recall, "curve": curve}


ANN_IVF_MP_ORACLE = f"""
WITH v AS ({_EMB_SQL}),
comp AS (
  SELECT label, CAST(t.i AS INT) AS idx, round(avg(v[t.i + 1]), 9) AS c
  FROM v, LATERAL unnest(range(0, len(v))) AS t(i)
  GROUP BY label, t.i
),
centroids AS (
  SELECT label AS c_label, list(c ORDER BY idx) AS cv,
         sqrt(list_inner_product(list(c ORDER BY idx), list(c ORDER BY idx))) AS c_norm
  FROM comp GROUP BY label
),
q AS (SELECT vec_id AS q_id, v AS q_v, norm AS q_norm FROM v WHERE vec_id < {N_QUERIES}),
probe AS (
  SELECT q_id, q_v, q_norm, c_label FROM (
    SELECT q.*, c.c_label,
           row_number() OVER (PARTITION BY q_id
             ORDER BY round(list_inner_product(q.q_v, c.cv) / (q.q_norm * c.c_norm), 9) DESC,
                      c.c_label) AS c_rank
    FROM q CROSS JOIN centroids c
  ) WHERE c_rank <= {N_PROBES}
),
cell AS (
  SELECT p.q_id, e.vec_id AS neighbor_id,
         list_inner_product(p.q_v, e.v) / (p.q_norm * e.norm) AS cosine
  FROM probe p JOIN v e ON e.label = p.c_label AND e.vec_id >= {N_QUERIES}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM cell
)
SELECT q_id, CAST(rank AS INT) AS rank, neighbor_id, round(cosine, 6) AS cosine
FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# ANN quality gate: recall@k of the approximate paths vs exact
# ---------------------------------------------------------------------------

def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{k} of each approximate path (IVF, sign-bit LSH) against
    the brute-force ground truth — the number that licenses switching
    to the approximate path at 100 TB (where brute force is a
    corpus×queries cross join you cannot afford).

    Scale: ground truth is computed on a SAMPLE of queries (here all
    {q}; on a real corpus a few hundred suffice), so the cross join is
    |sample|×corpus — bounded by the evaluation budget, not the
    workload. The recall join itself is top-k×top-k per query: trivial.
    """
    bf = ann_bruteforce_topk(spark, sf_dir).select("q_id", "neighbor_id")
    bf = bf.persist()
    base = bf.select("q_id").distinct()
    parts = []
    for method, fn in (
        ("ivf", ann_ivf_topk),
        ("ivf_mp", ann_ivf_multiprobe_topk),
        ("lsh", ann_lsh_topk),
        ("pq", ann_pq_adc_topk),
    ):
        approx = fn(spark, sf_dir).select("q_id", "neighbor_id")
        hits = (
            approx.join(bf, ["q_id", "neighbor_id"])
            .groupBy("q_id")
            .agg(F.count("*").alias("hits"))
        )
        parts.append(
            base.join(hits, "q_id", "left").select(
                "q_id",
                F.lit(method).alias("method"),
                F.coalesce("hits", F.lit(0)).cast("long").alias("n_hit"),
                F.round(
                    F.coalesce("hits", F.lit(0)) / F.lit(TOP_K), 6
                ).alias("recall"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


ann_recall_at_k.__doc__ = ann_recall_at_k.__doc__.format(k=TOP_K, q=N_QUERIES)


ANN_RECALL_ORACLE = f"""
WITH bf AS (SELECT q_id, neighbor_id FROM ({ANN_BF_ORACLE})),
ivf AS (SELECT q_id, neighbor_id FROM ({ANN_IVF_ORACLE})),
mp AS (SELECT q_id, neighbor_id FROM ({ANN_IVF_MP_ORACLE})),
lsh AS (SELECT q_id, neighbor_id FROM ({ANN_LSH_ORACLE})),
base AS (SELECT DISTINCT q_id FROM bf),
ivf_hit AS (
  SELECT i.q_id, count(*) AS hits FROM ivf i
  JOIN bf USING (q_id, neighbor_id) GROUP BY 1
),
lsh_hit AS (
  SELECT l.q_id, count(*) AS hits FROM lsh l
  JOIN bf USING (q_id, neighbor_id) GROUP BY 1
),
mp_hit AS (
  SELECT m.q_id, count(*) AS hits FROM mp m
  JOIN bf USING (q_id, neighbor_id) GROUP BY 1
)
SELECT b.q_id, 'ivf' AS method,
       CAST(coalesce(h.hits, 0) AS BIGINT) AS n_hit,
       round(coalesce(h.hits, 0) / {TOP_K}, 6) AS recall
FROM base b LEFT JOIN ivf_hit h USING (q_id)
UNION ALL
SELECT b.q_id, 'ivf_mp' AS method,
       CAST(coalesce(h.hits, 0) AS BIGINT) AS n_hit,
       round(coalesce(h.hits, 0) / {TOP_K}, 6) AS recall
FROM base b LEFT JOIN mp_hit h USING (q_id)
UNION ALL
SELECT b.q_id, 'lsh' AS method,
       CAST(coalesce(h.hits, 0) AS BIGINT) AS n_hit,
       round(coalesce(h.hits, 0) / {TOP_K}, 6) AS recall
FROM base b LEFT JOIN lsh_hit h USING (q_id)
"""


# ---------------------------------------------------------------------------
# k-means (Lloyd) cell training — the iterative algorithm behind a
# real IVF index, as pure DataFrame ops with an unrolled SQL oracle.
# ---------------------------------------------------------------------------

K_CLUSTERS = 8
KMEANS_ITERS = 2


def _assign(v: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment by cosine (spherical k-means),
    ZERO-shuffle: the K centroids collapse to ONE array row
    (collect_list over K rows — a trivial agg), broadcast onto the
    vector table, and each vector picks its argmax centroid inside a
    single JVM fold over that array. No N×K row blow-up, no window
    sort, and — unlike the r8 struct-max groupBy, whose partial+final
    exchange shipped every vector once (sidecar: shuffle read went UP
    1.75→2.34 MB vs the r7 window) — no aggregation exchange at all:
    v and norm never leave their partitions. Cosine is rounded to
    9 dp before ranking (both engines); ties break desc cos, asc cid,
    bitwise-identical to the oracle's arg-sort."""
    cent_arr = cents.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cv", "c_norm"))).alias(
            "__cents"
        )
    )
    # Each cosine is computed EXACTLY once (transform materializes the
    # K-struct candidate array, array_max picks desc-cos/asc-cid);
    # duplicated subexpressions inside HOF lambdas are NOT
    # common-subexpression-eliminated, so a compare-and-carry fold
    # would evaluate the O(dim) dot product 2-3× per centroid
    # (round-9 review finding #5).
    cos_of = lambda c: F.round(  # noqa: E731
        _dot(F.col("v"), c["cv"]) / (F.col("norm") * c["c_norm"]), 9
    )
    best = F.array_max(
        F.transform(
            F.col("__cents"),
            lambda c: F.struct(
                cos_of(c).alias("cos"),
                (-c["cid"]).alias("neg_cid"),
                c["cid"].alias("cid"),
            ),
        )
    )
    return (
        v.crossJoin(F.broadcast(cent_arr))
        .withColumn("__b", best)
        .select("vec_id", "v", "norm", F.col("__b.cid").alias("cid"))
    )


def _recompute(assigned: DataFrame) -> DataFrame:
    """Element-wise mean per cluster: posexplode → (cid, idx) partial
    avg → re-assemble sorted. Components round to 9 dp so the next
    assignment is summation-order-independent across engines."""
    comp = assigned.select(
        "cid", F.posexplode("v").alias("idx", "val")
    ).groupBy("cid", "idx").agg(F.round(F.avg("val"), 9).alias("c"))
    return (
        comp.groupBy("cid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("idx", "c"))
            ).alias("pairs")
        )
        .select(
            "cid",
            F.transform(F.col("pairs"), lambda p: p["c"]).alias("cv"),
        )
        .withColumn("c_norm", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
    )


def _train_centroids(v: DataFrame) -> DataFrame:
    """Seed from the first {K_CLUSTERS} vec_ids, run {KMEANS_ITERS}
    Lloyd rounds — the ONE training block every IVF consumer shares
    (cluster-sizes report, monolithic search, incremental index,
    persisted index, tests). A seeding/iteration change made here
    cannot diverge the incremental index from the monolithic one."""
    # Persist the vector table for the duration of training: every
    # Lloyd round's _assign references it, and the callers' final
    # assign / serve joins reference the same object again — without
    # the cache each reference re-runs the whole emb_table pipeline
    # including its modal-dim guard aggregate (KMEANS_ITERS + 2 extra
    # corpus passes per query; kmeans trials showed a cold first
    # trial from exactly this). A no-op when the caller already
    # persisted its store (refresh_ivf_index); lifecycle is
    # caller-owned (clearCache), catalog-wide.
    v = v.persist()
    cents = v.filter(F.col("vec_id") < K_CLUSTERS).select(
        F.col("vec_id").cast("int").alias("cid"),
        F.col("v").alias("cv"),
        F.col("norm").alias("c_norm"),
    )
    for _ in range(KMEANS_ITERS):
        cents = _recompute(_assign(v, cents))
    # Persist the FINAL centroid table (K rows, a few KB): consumers
    # reference it from several places (two _assign calls in the
    # incremental index, assign + the size-report join, both sides of
    # the serve join upstream) and each reference otherwise re-runs
    # the ENTIRE Lloyd chain — KMEANS_ITERS full corpus passes per
    # reference (measured: ann_ivf_incremental_topk 10.4 → 3.4 s at
    # sf0.1). Intermediate iterations are referenced exactly once
    # and need no pin; lifecycle is caller-owned (clearCache),
    # catalog-wide. Re-persisting at a call site is a same-level
    # no-op.
    return cents.persist()


def kmeans_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations of spherical k-means over the embedding
    table (seeds = the first K vectors by vec_id), reporting final
    cluster sizes and centroid norms — the training step that turns
    the label-cell IVF into a real data-driven index.

    Scale: each iteration is two shuffles — the assignment argmax
    (struct-max agg on vec_id, map-side-combined from N×K candidate
    rows down to ~N), and the (cid, idx) mean, which partial-aggregates
    map-side so the wire carries K×dim×partitions pre-combined sums,
    not N×dim rows. The centroid table stays K rows and broadcasts;
    iteration count is a fixed config (Lloyd converges in few rounds;
    at 100 TB train on a sample, assign the full corpus once). The
    oracle unrolls both iterations as CTEs — exact equivalence, not
    rows-only.
    """
    v = _emb(spark, sf_dir)
    cents = _train_centroids(v)
    final = _assign(v, cents)
    return (
        final.groupBy("cid")
        .agg(F.count("*").alias("n_members"))
        .join(F.broadcast(cents.select("cid", "c_norm")), "cid")
        .select(
            F.col("cid").cast("int").alias("cid"),
            F.col("n_members").cast("long").alias("n_members"),
            F.round("c_norm", 6).alias("c_norm"),
        )
    )


def _km_assign_sql(vrel: str, crel: str) -> str:
    return f"""
  SELECT vec_id, v, norm, cid FROM (
    SELECT {vrel}.vec_id, {vrel}.v, {vrel}.norm, {crel}.cid,
           row_number() OVER (PARTITION BY {vrel}.vec_id
             ORDER BY round(list_inner_product({vrel}.v, {crel}.cv)
                            / ({vrel}.norm * {crel}.c_norm), 9) DESC,
                      {crel}.cid) AS crank
    FROM {vrel} CROSS JOIN {crel}
  ) WHERE crank = 1
"""


def _km_recompute_sql(arel: str) -> str:
    return f"""
  SELECT cid, list(c ORDER BY idx) AS cv,
         sqrt(list_inner_product(list(c ORDER BY idx), list(c ORDER BY idx))) AS c_norm
  FROM (
    SELECT cid, CAST(t.i AS INT) AS idx, round(avg(v[t.i + 1]), 9) AS c
    FROM {arel}, LATERAL unnest(range(0, len(v))) AS t(i)
    GROUP BY cid, t.i
  ) GROUP BY cid
"""


_KM_CTES = f"""v AS ({_EMB_SQL}),
c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv, norm AS c_norm
       FROM v WHERE vec_id < {K_CLUSTERS}),
a1 AS ({_km_assign_sql('v', 'c0')}),
c1 AS ({_km_recompute_sql('a1')}),
a2 AS ({_km_assign_sql('v', 'c1')}),
c2 AS ({_km_recompute_sql('a2')}),
a3 AS ({_km_assign_sql('v', 'c2')})"""


KMEANS_ORACLE = f"""
WITH {_KM_CTES}
SELECT a3.cid, CAST(count(*) AS BIGINT) AS n_members,
       round(any_value(c2.c_norm), 6) AS c_norm
FROM a3 JOIN c2 ON a3.cid = c2.cid
GROUP BY a3.cid
"""


def _serve_cells(assigned: DataFrame) -> DataFrame:
    """Serve top-{k} from an assigned (vec_id, v, norm, cid) table:
    queries probe their own cell, the cell search is an equi join on
    cid. q derives from a window+filter, so Catalyst has no size
    stats — hint the broadcast explicitly or the tiny query set
    sort-merges against the corpus."""
    # assigned feeds BOTH sides of the cell join (the broadcast query
    # slice and the corpus side) — without the pin each side re-runs
    # the whole upstream assign (and, for the k-means lanes, train)
    # chain. K-row/corpus-sized per lane, caller-owned lifecycle.
    assigned = assigned.persist()
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q_v"),
        F.col("norm").alias("q_norm"),
        F.col("cid").alias("probed_cid"),
    )
    cell = F.broadcast(q).join(
        assigned.filter(F.col("vec_id") >= N_QUERIES),
        q.probed_cid == F.col("cid"),
    )
    cos = _dot(F.col("q_v"), F.col("v")) / (F.col("q_norm") * F.col("norm"))
    ranked = cell.select(
        "q_id",
        F.col("probed_cid").cast("int").alias("probed_cid"),
        F.col("vec_id").alias("neighbor_id"),
        cos.alias("cosine"),
    ).withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
        ),
    )
    return ranked.filter(F.col("rank") <= TOP_K).select(
        "q_id", "probed_cid", F.col("rank").cast("int").alias("rank"),
        "neighbor_id", F.round("cosine", 6).alias("cosine"),
    )


def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full train→index→search chain: IVF top-k over the k-means
    cells from kmeans_cluster_sizes instead of the given labels.

    A query's probe cell IS its own final assignment (queries live in
    the corpus here), so probing costs nothing extra; the cell search
    is an equi join on cid — the same one-cell pruning as ann_ivf_topk
    but against data-driven cells. Scale: identical plan shape to the
    label IVF (broadcast centroids, cell equi join, per-query window);
    training cost amortizes across every subsequent query batch.
    """
    v = _emb(spark, sf_dir)
    cents = _train_centroids(v)
    assigned = _assign(v, cents)
    return _serve_cells(assigned)


ANN_IVF_KMEANS_ORACLE = f"""
WITH {_KM_CTES},
q AS (SELECT vec_id AS q_id, v AS q_v, norm AS q_norm, cid AS probed_cid
      FROM a3 WHERE vec_id < {N_QUERIES}),
cell AS (
  SELECT q.q_id, q.probed_cid, e.vec_id AS neighbor_id,
         list_inner_product(q.q_v, e.v) / (q.q_norm * e.norm) AS cosine
  FROM q JOIN a3 e ON e.cid = q.probed_cid AND e.vec_id >= {N_QUERIES}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY cosine DESC, neighbor_id) AS rank
  FROM cell
)
SELECT q_id, probed_cid, CAST(rank AS INT) AS rank, neighbor_id,
       round(cosine, 6) AS cosine
FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# Incremental IVF index maintenance: the index LIFECYCLE op that the
# band-signature and gram stores already have (epoch append +
# compaction) and the ANN index lacked. Centroids train ONCE on the
# base corpus and are then FROZEN; a later-arriving delta batch is
# routed through the frozen centroids and appended as its own segment
# — no retrain, no rebuild, no touch of the base cells. Serving reads
# base ∪ delta. This is the standard production IVF posture (inserts
# route, centroids retrain rarely and offline); the exactness claim —
# routing each batch independently equals routing the union, because
# assignment is per-row under fixed centroids — is pinned by
# tests/test_scoring.py::test_ivf_incremental_insert_equivalence, and
# the persisted delta-segment serve path by
# test_ivf_delta_segment_serves_union.
#
# Scale: the per-epoch insert job is ONE broadcast crossJoin (K rows)
# + per-vector argmin over the delta — O(|delta|·K), independent of
# index size; the append is a partitioned write of |delta| rows.
# Compare: a monolithic rebuild re-reads and re-writes the full
# corpus every epoch.
# ---------------------------------------------------------------------------

IVF_DELTA_MOD, IVF_DELTA_RES = 7, 3  # delta batch stand-in: ~1/7 of corpus


def _ivf_is_delta(col):
    return (F.pmod(col, F.lit(IVF_DELTA_MOD)) == IVF_DELTA_RES) & (
        col >= N_QUERIES
    )


def ann_ivf_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train on base, freeze, route the delta batch separately, serve
    base ∪ delta — the incremental-maintenance twin of
    ann_ivf_kmeans_topk (whose monolithic train covers the rebuild
    posture)."""
    v = _emb(spark, sf_dir)
    base = v.filter(~_ivf_is_delta(F.col("vec_id")))
    delta = v.filter(_ivf_is_delta(F.col("vec_id")))
    cents = _train_centroids(base)
    # the per-epoch insert job: assign ONLY the delta through the
    # frozen centroid table (in production this writes a
    # vectors-delta-<epoch>/ segment; see append_ivf_delta)
    indexed = _assign(base, cents).unionByName(_assign(delta, cents))
    return _serve_cells(indexed)


_DELTA_PRED = f"(vec_id % {IVF_DELTA_MOD} = {IVF_DELTA_RES} AND vec_id >= {N_QUERIES})"

ANN_IVF_INC_ORACLE = f"""
WITH ve AS ({_EMB_SQL}),
vb AS (SELECT * FROM ve WHERE NOT {_DELTA_PRED}),
vd AS (SELECT * FROM ve WHERE {_DELTA_PRED}),
c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv, norm AS c_norm
       FROM vb WHERE vec_id < {K_CLUSTERS}),
a1 AS ({_km_assign_sql('vb', 'c0')}),
c1 AS ({_km_recompute_sql('a1')}),
a2 AS ({_km_assign_sql('vb', 'c1')}),
c2 AS ({_km_recompute_sql('a2')}),
a3b AS ({_km_assign_sql('vb', 'c2')}),
a3d AS ({_km_assign_sql('vd', 'c2')}),
a3 AS (SELECT * FROM a3b UNION ALL SELECT * FROM a3d),
q AS (SELECT vec_id AS q_id, v AS q_v, norm AS q_norm, cid AS probed_cid
      FROM a3 WHERE vec_id < {N_QUERIES}),
cell AS (
  SELECT q.q_id, q.probed_cid, e.vec_id AS neighbor_id,
         list_inner_product(q.q_v, e.v) / (q.q_norm * e.norm) AS cosine
  FROM q JOIN a3 e ON e.cid = q.probed_cid AND e.vec_id >= {N_QUERIES}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY cosine DESC, neighbor_id) AS rank
  FROM cell
)
SELECT q_id, probed_cid, CAST(rank AS INT) AS rank, neighbor_id,
       round(cosine, 6) AS cosine
FROM ranked WHERE rank <= {TOP_K}
"""


def valid_vectors(df: DataFrame, expected_dim: int) -> DataFrame:
    """emb_table's validity predicates applied to an arbitrary
    (vec_id, v) batch against the INDEX's declared dimension: non-NULL
    vector, no NULL elements, exact dim (zip_with silently NULL-pads a
    ragged vector), and finite positive norm (a zero vector's cosine
    is NaN, and NaN ranks above every double — one poisoned ingest row
    would otherwise become the rank-1 neighbor for every query probing
    its cell). Returns (vec_id, v, norm) for the valid rows."""
    from finmapreduce_spark.queries.dedup import _dot

    return (
        df.filter(
            F.col("v").isNotNull()
            & ~F.exists("v", lambda x: x.isNull())
            & (F.size("v") == expected_dim)
        )
        .select("vec_id", "v", F.sqrt(_dot(F.col("v"), F.col("v"))).alias("norm"))
        .filter(
            (F.col("norm") > 0)
            & ~F.isnan("norm")
            & (F.col("norm") != F.lit(float("inf")))
        )
    )


def _ivf_segments(root: str) -> list[tuple[int, str, str]]:
    """Parsed delta segments, seq-ascending: [(seq, tag, path)].
    Segment dirs are named ``vectors-delta-<seq:08d>-<tag>`` — seq is
    the index-local ingest order (precedence for latest-wins reads),
    tag is the caller's batch identity (replay idempotency key)."""
    import glob as _glob
    import os as _os
    import re as _re

    out, unknown = [], []
    for p in _glob.glob(_os.path.join(root, "vectors-delta-*")):
        m = _re.match(r"vectors-delta-(\d{8})-(.+)$", _os.path.basename(p))
        if m:
            out.append((int(m.group(1)), m.group(2), p))
        else:
            unknown.append(p)
    if unknown:
        # silently ignoring a segment would serve an index MISSING
        # ingested vectors — fail loudly instead (e.g. a store written
        # by an older layout needs a one-time rename to <seq>-<tag>)
        raise RuntimeError(
            f"unrecognized IVF delta segment name(s) {unknown}; expected "
            "vectors-delta-<seq:08d>-<tag>"
        )
    return sorted(out)


def append_ivf_delta(spark: SparkSession, root: str, assigned_delta: DataFrame,
                     tag) -> str:
    """Per-batch insert: write an already-routed delta batch as its
    own ``vectors-delta-<seq>-<tag>/cid=N/`` segment next to the
    frozen base index (same layout as ``vectors/``). The base cells
    are never rewritten.

    ``tag`` is the batch's identity: re-appending the SAME tag (a
    replayed epoch) overwrites its own segment — idempotent — while a
    NEW tag gets the next ingest seq, so a vec_id resubmitted later
    with a CHANGED vector deterministically supersedes the old row
    (read_ivf_vectors keeps the highest seq). Appends are sequential
    per index (the streaming serve's epochs are; two concurrent
    appenders could race the seq assignment — multi-writer ingest
    needs an external queue, same caveat as the signature store).
    Guarded by the store's two-sided append/compact protocol
    (sources/sinks.py)."""
    import os as _os

    import re as _re

    from finmapreduce_spark.sources.sinks import store_writer

    if not _re.fullmatch(r"[A-Za-z0-9._-]+", str(tag)):
        # a tag the segment regex cannot round-trip (empty, slashes,
        # spaces) would create a dir every subsequent read REJECTS —
        # the writer must not be able to brick its own store
        raise ValueError(
            f"invalid IVF delta tag {tag!r}: use [A-Za-z0-9._-]+"
        )
    with store_writer(root):
        _raise_if_refresh_interrupted(root)
        segs = _ivf_segments(root)
        same_tag = [s for s in segs if s[1] == str(tag)]
        seq = same_tag[0][0] if same_tag else (segs[-1][0] + 1 if segs else 1)
        path = _os.path.join(root, f"vectors-delta-{seq:08d}-{tag}")
        assigned_delta.write.mode("overwrite").partitionBy("cid").parquet(path)
    return path


def compact_ivf_index(spark: SparkSession, root: str) -> dict:
    """Fold every delta segment into the base cells — the lifecycle
    twin of compact_signature_store for the ANN index. The rewrite
    keeps, per vec_id, the row from the HIGHEST ingest seq (same
    latest-wins rule reads apply), so a re-embedded vector's newest
    routing is what gets baked in; bit-identical replays collapse to
    one row either way. Re-partitioned by cid so serving's partition
    pruning sees one clean layout again.

    Crash safety is the store family's protocol (sources/sinks.py):
    swap_in's two renames with a ``vectors.pre-compact`` rollback that
    recover_swap (run by every unlocked reader and by this function)
    restores, consumed segments and the rollback copy deleted only
    after the swap lands. Offline posture ENFORCED via the shared
    two-sided guard (lock + append markers)."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    from finmapreduce_spark.sources.sinks import (
        _check_no_appenders,
        _StoreLock,
        recover_swap,
        swap_in,
    )

    with _StoreLock(root):
        _check_no_appenders(root)
        if _os.path.exists(_refresh_sentinel(root)):
            raise RuntimeError(
                f"IVF index {root!r} has an interrupted refresh; "
                "compacting a mixed cid space would bake stale routing "
                "— re-run refresh_ivf_index instead"
            )
        base = _os.path.join(root, "vectors")
        old = _os.path.join(root, "vectors.pre-compact")
        recover_swap(base, old)
        segs = _ivf_segments(root)
        vecs = _ivf_union_with_ord(spark, root, segs)
        rows_before = vecs.count()
        files_before = sum(
            len(_glob.glob(_os.path.join(d, "**", "*.parquet"), recursive=True))
            for d in [_os.path.join(root, "vectors"), *[p for _, _, p in segs]]
        )
        compacted = _ivf_latest(vecs)
        tmp = _os.path.join(root, "vectors.compacting")
        _shutil.rmtree(tmp, ignore_errors=True)
        compacted.write.mode("overwrite").partitionBy("cid").parquet(tmp)
        rows_after = spark.read.parquet(tmp).count()
        swap_in(base, tmp, old)
        for _, _, p in segs:
            _shutil.rmtree(p)
        _shutil.rmtree(old, ignore_errors=True)  # swap landed; drop rollback
        files_after = len(
            _glob.glob(_os.path.join(base, "**", "*.parquet"), recursive=True)
        )
        return {
            "segments_folded": len(segs),
            "files_before": files_before,
            "files_after": files_after,
            "rows_before": rows_before,
            "rows_after": rows_after,
        }


def _ivf_union_with_ord(spark: SparkSession, root: str, segs) -> DataFrame:
    """Base (ord 0) ∪ segments (ord = 1-based position in seq order),
    each row stamped with its piece's precedence."""
    import os as _os

    out = spark.read.parquet(_os.path.join(root, "vectors")).withColumn(
        "__ord", F.lit(0)
    )
    for i, (_seq, _tag, path) in enumerate(segs):
        out = out.unionByName(
            spark.read.parquet(path).withColumn("__ord", F.lit(i + 1))
        )
    return out


def _ivf_latest(vecs_with_ord: DataFrame) -> DataFrame:
    """Latest-wins per vec_id: keep the row with the highest piece
    precedence. Deterministic because __ord is unique per piece."""
    w = W.partitionBy("vec_id").orderBy(F.desc("__ord"))
    return (
        vecs_with_ord.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__ord")
    )


def _refresh_sentinel(root: str) -> str:
    # inside root (root itself is stable); marks a multi-rename
    # refresh in flight so nothing serves the intermediate state
    import os as _os

    return _os.path.join(root, ".refresh-pending")


def _raise_if_refresh_interrupted(root: str) -> None:
    """A crashed refresh leaves the store MIXED (e.g. re-routed base
    beside stale-cid segments, or a missing centroid sidecar) — wrong
    to serve, but always completable: refresh re-derives everything
    from (vec_id, v, norm), which every partial state preserves.
    Readers and appenders refuse while the sentinel exists — on its
    own, NOT gated on the lock's absence: a hard-killed refresh
    leaves both files behind, and the lock alone must not launder the
    mixed state into service (the refresher itself never calls these
    readers after raising the sentinel). The remedy is re-running
    refresh_ivf_index, which clears both."""
    import os as _os

    if _os.path.exists(_refresh_sentinel(root)):
        raise RuntimeError(
            f"IVF index {root!r} has an interrupted refresh "
            "(.refresh-pending); re-run refresh_ivf_index to complete it"
        )


def refresh_ivf_index(spark: SparkSession, root: str) -> dict:
    """The deliberate OFFLINE event incremental maintenance defers:
    RETRAIN centroids on everything ingested so far (latest-wins over
    base ∪ segments) and re-route the full corpus — the answer to
    centroid drift once the delta fraction grows past what frozen
    routing serves well. Training is _train_centroids — the same
    seed rule (vec_id < K_CLUSTERS) and Lloyd loop as every other IVF
    consumer — so a refreshed index equals a monolithic build over
    the same vectors (pinned by test); a store whose id space lacks
    the seed ids fails fast below rather than training on an empty
    seed set. Rewrites ``vectors/`` AND ``centroids/`` and consumes
    every delta segment.

    Crash posture: the multi-rename sequence cannot be atomic, and a
    partial state is genuinely WRONG to serve (a re-routed base
    beside stale-cid segments mixes two cid spaces). So the whole
    mutation runs under a ``.refresh-pending`` sentinel that blocks
    readers/appenders until a re-run completes — and a re-run from
    ANY partial state is correct, because refresh consumes only
    (vec_id, v, norm), which every intermediate state preserves
    (cids are re-derived, segments already folded into the new base
    are simply absent). Deterministic training makes the re-run
    converge to the same result."""
    import os as _os
    import shutil as _shutil

    from finmapreduce_spark.sources.sinks import (
        _check_no_appenders,
        _StoreLock,
        recover_swap,
        swap_in,
    )

    with _StoreLock(root):
        _check_no_appenders(root)
        base = _os.path.join(root, "vectors")
        old = _os.path.join(root, "vectors.pre-compact")
        recover_swap(base, old)
        segs = _ivf_segments(root)
        current = (
            _ivf_latest(_ivf_union_with_ord(spark, root, segs))
            .select("vec_id", "v", "norm")
            .persist()  # feeds seed count, K Lloyd rounds, and the write
        )
        try:
            n_seeds = current.filter(F.col("vec_id") < K_CLUSTERS).count()
            if n_seeds == 0:
                raise ValueError(
                    f"refresh_ivf_index: no seed vectors (vec_id < "
                    f"{K_CLUSTERS}) in {root!r}; the store's id space "
                    "does not cover the seed rule"
                )
            cents = _train_centroids(current).persist()
            assigned = _assign(current, cents)
            tmp = _os.path.join(root, "vectors.compacting")
            tmp_c = _os.path.join(root, "centroids.refreshing")
            _shutil.rmtree(tmp, ignore_errors=True)
            _shutil.rmtree(tmp_c, ignore_errors=True)
            assigned.write.mode("overwrite").partitionBy("cid").parquet(tmp)
            cents.write.mode("overwrite").parquet(tmp_c)
            cents.unpersist()
            n_vectors = spark.read.parquet(tmp).count()
        finally:
            current.unpersist()
        # --- mutation begins: sentinel up until every step lands ---
        fd = _os.open(_refresh_sentinel(root), _os.O_CREAT | _os.O_WRONLY)
        _os.close(fd)
        swap_in(base, tmp, old)
        # segments die IMMEDIATELY after the vectors swap (they are
        # folded into the new base, and their cids belong to the OLD
        # centroid space — leaving them any longer than necessary
        # invites latest-wins to prefer stale-cid rows)
        for _, _, p in segs:
            _shutil.rmtree(p)
        cdir = _os.path.join(root, "centroids")
        old_c = _os.path.join(root, "centroids.pre-refresh")
        swap_in(cdir, tmp_c, old_c)
        _shutil.rmtree(old, ignore_errors=True)
        _shutil.rmtree(old_c, ignore_errors=True)
        _os.remove(_refresh_sentinel(root))
        return {"segments_folded": len(segs), "n_vectors": n_vectors}


def read_ivf_vectors(spark: SparkSession, root: str) -> DataFrame:
    """The serving-side read: base cells ∪ every delta segment. Each
    piece keeps its cid=N partition dirs, so the probe's partition
    pruning applies to segments exactly as to the base.

    Duplicates corrupt top-k (the same neighbor occupies two ranks),
    and they arise two ways: a replayed epoch re-appended under a new
    tag (bit-identical rows), and a vec_id legitimately RESUBMITTED
    with a changed vector. Reads resolve both deterministically by
    keeping the highest-ingest-seq row per vec_id. The dedupe window
    is the price of an uncompacted index; compaction folds segments
    and returns serving to the zero-shuffle pruned scan. Also runs
    crash recovery for an interrupted compaction, like the response
    cache's reader."""
    import os as _os

    from finmapreduce_spark.sources.sinks import recover_swap, store_lock_path

    _raise_if_refresh_interrupted(root)
    if not _os.path.exists(store_lock_path(root)):
        # mid-compaction the gap is transient and owned by the compactor
        recover_swap(
            _os.path.join(root, "vectors"),
            _os.path.join(root, "vectors.pre-compact"),
        )
    segs = _ivf_segments(root)
    if not segs:
        return spark.read.parquet(_os.path.join(root, "vectors"))
    return _ivf_latest(_ivf_union_with_ord(spark, root, segs))


# ---------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric-distance scoring: split the
# vector into subspaces, k-means each subspace (reusing the Lloyd
# machinery above), encode every vector as (cid per subspace), score
# query→candidate from the per-query centroid dot tables — compressed-
# domain search, the memory-side complement of IVF's pruning.
# ---------------------------------------------------------------------------

K_PQ = 4                       # centroids per subspace
PQ_SUBS = [(1, 32), (33, 32)]  # (start, len), 1-based — dim 64 split in two
PQ_DIM = 64


def _pq_subspace(emb: DataFrame, start: int, length: int) -> DataFrame:
    sub = F.slice(F.col("full_v"), start, length)
    return emb.select(
        "vec_id",
        sub.alias("v"),
    ).withColumn("norm", F.sqrt(_dot(F.col("v"), F.col("v"))))


def _pq_topk(
    spark: SparkSession, sf_dir: str, k_pq: int, subs: list
) -> DataFrame:
    """Parameterized PQ/ADC search: `k_pq` centroids per subspace over
    the `subs` slices. The plan shape is identical for every config —
    codes fold-join on vec_id, per-query dot tables broadcast, score
    by table lookup — so tuning (k_pq, |subs|) moves only codebook
    size, never the shuffle structure."""
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("v").alias("full_v"), F.col("norm").alias("full_norm")
    )
    cents_by_sub, codes_by_sub = [], []
    for m, (start, length) in enumerate(subs):
        sub = _pq_subspace(emb, start, length)
        cents = sub.filter(F.col("vec_id") < k_pq).select(
            F.col("vec_id").cast("int").alias("cid"),
            F.col("v").alias("cv"),
            F.col("norm").alias("c_norm"),
        )
        cents = _recompute(_assign(sub, cents))
        codes = _assign(sub, cents).select(
            "vec_id", F.col("cid").alias(f"cid{m}")
        )
        cents_by_sub.append(cents)
        codes_by_sub.append(codes)

    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("full_v").alias("q_v"),
        F.col("full_norm").alias("q_norm"),
    )
    qtabs = []
    for m, (start, length) in enumerate(subs):
        qsub = F.slice(F.col("q_v"), start, length)
        qt = (
            q.crossJoin(F.broadcast(cents_by_sub[m]))
            .select(
                "q_id",
                *(["q_norm"] if m == 0 else []),
                F.col("cid").alias(f"cid{m}"),
                _dot(qsub, F.col("cv")).alias(f"qdot{m}"),
                (F.col("c_norm") * F.col("c_norm")).alias(f"cn2_{m}"),
            )
        )
        qtabs.append(qt)

    cand = codes_by_sub[0]
    for codes in codes_by_sub[1:]:
        cand = cand.join(codes, "vec_id")
    cand = cand.filter(F.col("vec_id") >= N_QUERIES)

    scored = cand.join(F.broadcast(qtabs[0]), "cid0")
    for m in range(1, len(subs)):
        scored = scored.join(F.broadcast(qtabs[m]), ["q_id", f"cid{m}"])
    qdot_sum = sum(F.col(f"qdot{m}") for m in range(len(subs)))
    cn2_sum = sum(F.col(f"cn2_{m}") for m in range(len(subs)))
    scored = scored.select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            qdot_sum / (F.col("q_norm") * F.sqrt(cn2_sum)), 9
        ).alias("approx_cos"),
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("q_id").orderBy(
                F.desc("approx_cos"), F.asc("neighbor_id")
            )
        ),
    )
    return ranked.filter(F.col("rank") <= TOP_K).select(
        "q_id",
        F.col("rank").cast("int").alias("rank"),
        "neighbor_id",
        F.round("approx_cos", 6).alias("approx_cos"),
    )


def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ top-k: one Lloyd iteration trains {K_PQ} centroids per
    subspace; every corpus vector stores only its per-subspace code;
    each query computes a {K_PQ}×{M} dot table once and candidates
    score by TABLE LOOKUP — no full-vector arithmetic per pair.

    Scale: the codes table is |corpus| × M ints (the compression),
    centroid and query-dot tables are tiny broadcasts, so scoring is
    two broadcast hash joins + arithmetic on scalars. Corpus vectors
    are read once (train+encode); at 100 TB train on a sample and
    encode in one narrow pass. approx_cosine is the cosine against
    the candidate's reconstruction [c0; c1] — quality is bounded by
    codebook size by construction, and the SQL oracle reproduces the
    whole train→encode→lookup chain exactly.
    """
    return _pq_topk(spark, sf_dir, K_PQ, PQ_SUBS)


def _pq_split(n_subs: int) -> list:
    """Equal 1-based (start, len) slices of the {PQ_DIM}-dim vector."""
    length = PQ_DIM // n_subs
    return [(1 + m * length, length) for m in range(n_subs)]


def pick_pq_config(
    spark: SparkSession,
    sf_dir: str,
    target_recall: float,
    configs: list | None = None,
) -> dict:
    """PQ codebook sizing (ROADMAP round-4 #3): walk (k_pq, n_subs)
    configs in increasing code-size order, measure recall@{k} against
    the persisted brute-force truth, stop at the first config clearing
    the target. Returns the chosen config plus the measured curve —
    the number that licenses the compressed path at a given budget.

    Code size per vector is n_subs × log2(k_pq) bits; the walk order
    is by that cost, so "chosen" is the cheapest codebook meeting the
    SLO (or the largest tried when unreachable — the honest fallback).
    Same budget argument as pick_n_probes: each step is one bounded
    distributed evaluation on the query sample; truth is computed once.
    """
    import math

    if configs is None:
        configs = [(4, 2), (8, 2), (4, 4), (8, 4), (16, 4), (16, 8)]
    configs = sorted(configs, key=lambda c: c[1] * math.log2(c[0]))
    bf = ann_bruteforce_topk(spark, sf_dir).select("q_id", "neighbor_id")
    bf = bf.persist()
    n_q = bf.select("q_id").distinct().count()
    curve = {}
    chosen = configs[-1]
    for k_pq, n_subs in configs:
        approx = _pq_topk(spark, sf_dir, k_pq, _pq_split(n_subs)).select(
            "q_id", "neighbor_id"
        )
        hits = approx.join(bf, ["q_id", "neighbor_id"]).count()
        recall = hits / (n_q * TOP_K)
        curve[(k_pq, n_subs)] = round(recall, 6)
        if recall >= target_recall:
            chosen = (k_pq, n_subs)
            break
    bf.unpersist()
    return {
        "k_pq": chosen[0],
        "n_subspaces": chosen[1],
        "code_bits": int(chosen[1] * math.log2(chosen[0])),
        "target": target_recall,
        "curve": {f"k{k}x{m}": r for (k, m), r in curve.items()},
    }


pick_pq_config.__doc__ = pick_pq_config.__doc__.format(k=TOP_K)


def _pq_sub_sql(tag: str, lo: int, hi: int) -> str:
    """CTE chain training one subspace: slice → seed → one Lloyd
    iteration → final codes (reuses the generic assign/recompute SQL)."""
    return f"""
s{tag} AS (SELECT vec_id, v[{lo}:{hi}] AS v,
                  sqrt(list_inner_product(v[{lo}:{hi}], v[{lo}:{hi}])) AS norm
           FROM v),
p{tag}c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv, norm AS c_norm
             FROM s{tag} WHERE vec_id < {K_PQ}),
p{tag}a1 AS ({_km_assign_sql(f's{tag}', f'p{tag}c0')}),
p{tag}c1 AS ({_km_recompute_sql(f'p{tag}a1')}),
p{tag}a2 AS ({_km_assign_sql(f's{tag}', f'p{tag}c1')})"""


ANN_PQ_ORACLE = f"""
WITH v AS ({_EMB_SQL}),
{_pq_sub_sql('0', 1, 32)},
{_pq_sub_sql('1', 33, 64)},
q AS (SELECT vec_id AS q_id, v AS q_v, norm AS q_norm FROM v
      WHERE vec_id < {N_QUERIES}),
qt0 AS (SELECT q_id, q_norm, cid AS cid0,
               list_inner_product(q_v[1:32], cv) AS qdot0,
               c_norm * c_norm AS cn2_0
        FROM q CROSS JOIN p0c1),
qt1 AS (SELECT q_id, cid AS cid1,
               list_inner_product(q_v[33:64], cv) AS qdot1,
               c_norm * c_norm AS cn2_1
        FROM q CROSS JOIN p1c1),
cand AS (SELECT a0.vec_id, a0.cid AS cid0, a1.cid AS cid1
         FROM p0a2 a0 JOIN p1a2 a1 USING (vec_id)
         WHERE a0.vec_id >= {N_QUERIES}),
scored AS (
  SELECT qt0.q_id, cand.vec_id AS neighbor_id,
         round((qdot0 + qdot1)
               / (q_norm * sqrt(cn2_0 + cn2_1)), 9) AS approx_cos
  FROM cand
  JOIN qt0 ON cand.cid0 = qt0.cid0
  JOIN qt1 ON qt1.q_id = qt0.q_id AND qt1.cid1 = cand.cid1
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY approx_cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT q_id, CAST(rank AS INT) AS rank, neighbor_id,
       round(approx_cos, 6) AS approx_cos
FROM ranked WHERE rank <= {TOP_K}
"""


# PQ joins the recall gate: splice its CTE + hit count + union leg
# into the recall oracle (defined above, before PQ existed).
ANN_RECALL_ORACLE = ANN_RECALL_ORACLE.replace(
    "base AS (SELECT DISTINCT q_id FROM bf),",
    f"pq AS (SELECT q_id, neighbor_id FROM ({ANN_PQ_ORACLE})),\n"
    "base AS (SELECT DISTINCT q_id FROM bf),\n"
    "pq_hit AS (\n"
    "  SELECT p.q_id, count(*) AS hits FROM pq p\n"
    "  JOIN bf USING (q_id, neighbor_id) GROUP BY 1\n"
    "),",
) + f"""
UNION ALL
SELECT b.q_id, 'pq' AS method,
       CAST(coalesce(h.hits, 0) AS BIGINT) AS n_hit,
       round(coalesce(h.hits, 0) / {TOP_K}, 6) AS recall
FROM base b LEFT JOIN pq_hit h USING (q_id)
"""


# ---------------------------------------------------------------------------
# SemDeDup-style clustered semantic dedup (Abbas et al. 2023,
# arXiv:2303.09540): k-means partitions the embedding space, pairwise
# cosine runs ONLY within each cluster, and every vector with a
# smaller-id neighbor above the threshold is pruned. Clustering is
# what makes semantic dedup subquadratic: the pair space shrinks from
# N² to Σ|cluster|² — at 100 TB, K scales with N to hold the target
# cluster size, centroids still broadcast, and a runaway hot cluster
# falls back to the same grid decomposition dedup_embedding_cosine
# uses (queries/dedup.py). Reuses the SQL-unrolled Lloyd iterations,
# so the whole train→cluster→prune chain is value-checked exactly.
# ---------------------------------------------------------------------------

SEMDEDUP_THRESHOLD = 0.35


def dedup_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _emb(spark, sf_dir)
    cents = _train_centroids(v)
    # NOTE: final stays persisted — the returned plan references it on
    # BOTH sides of the within-cluster self-join and the driver
    # executes lazily (the bpe/classifier documented-leak pattern;
    # bench.py clears caches between queries).
    final = _assign(v, cents).persist()
    a, b = final.alias("a"), final.alias("b")
    cos = F.round(
        _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.norm") * F.col("b.norm")), 6
    )
    pruned = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .withColumn("cos", cos)
        .filter(F.col("cos") >= SEMDEDUP_THRESHOLD)
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("pruned", F.lit(True))
    )
    return final.join(pruned, "vec_id", "left").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cid").cast("int").alias("cid"),
        F.coalesce("pruned", F.lit(False)).alias("pruned"),
    )


SEMDEDUP_ORACLE = f"""
WITH {_KM_CTES},
pr AS (
  SELECT DISTINCT a.vec_id
  FROM a3 a JOIN a3 b
    ON a.cid = b.cid AND b.vec_id < a.vec_id
  WHERE round(list_inner_product(a.v, b.v) / (a.norm * b.norm), 6)
        >= {SEMDEDUP_THRESHOLD}
)
SELECT a3.vec_id, CAST(a3.cid AS INT) AS cid,
       (pr.vec_id IS NOT NULL) AS pruned
FROM a3 LEFT JOIN pr ON a3.vec_id = pr.vec_id
"""


QUERIES: dict[str, QuerySpec] = {
    "kmeans_cluster_sizes": QuerySpec(kmeans_cluster_sizes, KMEANS_ORACLE),
    "dedup_semdedup_prune": QuerySpec(dedup_semdedup_prune, SEMDEDUP_ORACLE),
    "ann_pq_adc_topk": QuerySpec(ann_pq_adc_topk, ANN_PQ_ORACLE),
    "ann_ivf_kmeans_topk": QuerySpec(
        ann_ivf_kmeans_topk, ANN_IVF_KMEANS_ORACLE
    ),
    "ann_ivf_incremental_topk": QuerySpec(
        ann_ivf_incremental_topk, ANN_IVF_INC_ORACLE
    ),
    "ann_bruteforce_topk": QuerySpec(ann_bruteforce_topk, ANN_BF_ORACLE),
    "ann_ivf_topk": QuerySpec(ann_ivf_topk, ANN_IVF_ORACLE),
    "ann_lsh_topk": QuerySpec(ann_lsh_topk, ANN_LSH_ORACLE),
    "j4_similarity_join": QuerySpec(j4_similarity_join, J4_ORACLE),
    "j_levenshtein_best_match": QuerySpec(j_levenshtein_best_match, LEV_ORACLE),
    "ann_ivf_multiprobe_topk": QuerySpec(
        ann_ivf_multiprobe_topk, ANN_IVF_MP_ORACLE
    ),
    "ann_recall_at_k": QuerySpec(ann_recall_at_k, ANN_RECALL_ORACLE),
}


# ---------------------------------------------------------------------------
# Scalar int8 embedding quantization — the standard 4× memory
# compression for vector search (per-vector absmax scaling, the
# faiss SQ8 / modern inference-engine scheme). Quantized components
# are INTEGERS, so an order-proof weighted checksum certifies every
# component of every vector against the oracle; the reconstruction
# error is the quality metric an index build would gate on.
# ---------------------------------------------------------------------------

def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings → (vec_id, scale, q_checksum, recon_err).

    q_i = floor(v_i/scale + 0.5) with scale = absmax/127 (symmetric
    int8); checksum = Σ (i+1)·q_i (position-weighted so component
    swaps can't cancel); recon_err = mean |q_i·scale − v_i|.

    Scale: a narrow per-row projection — zero shuffle; at 100 TB this
    is the map stage that writes the quantized index shard next to
    each vector block.
    """
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    # Materialize vd/absmax/scale/q as columns before any lambda
    # references them: an inline expression inside a higher-order-
    # function lambda is re-evaluated PER ELEMENT (the _shingles_of
    # trap, dedup.py:62) — with `scale` inline, the per-element
    # division re-derived absmax (an O(dim) fold) inside the quantize
    # transform, making the projection O(dim²) per row.
    emb = emb.withColumn(
        "__vd", F.transform(F.col("v"), lambda x: x.cast("double"))
    )
    vd = F.col("__vd")
    emb = emb.withColumn(
        "__absmax", F.array_max(F.transform(vd, lambda x: F.abs(x)))
    )
    absmax = F.col("__absmax")
    # Totality (ANSI) + engine parity: quantization is defined ONLY
    # for clean finite vectors. A zero vector gets all-zero codes
    # (scale 0, err 0 — the unguarded x/scale would throw
    # DIVIDE_BY_ZERO); anything degenerate — NULL vector, NULL
    # element (Spark's fold would NULL-propagate where DuckDB's
    # list_sum skips), NaN/Inf element (NaN > 0 is TRUE in Spark, so
    # a bare absmax > 0 guard would pass and the long cast would
    # throw CAST_OVERFLOW) — yields NULL outputs in BOTH engines via
    # the unmatched CASE.
    clean = (
        ~F.exists(vd, lambda x: x.isNull())
        & ~F.isnan(absmax)
        & (absmax != F.lit(float("inf")))
    )
    emb = emb.withColumn(
        "__scale",
        F.when(clean & (absmax > 0), absmax / F.lit(127.0)).when(
            clean & (absmax == 0), F.lit(0.0)
        ),
    )
    scale = F.col("__scale")
    emb = emb.withColumn(
        "__q",
        F.when(
            clean & (absmax > 0),
            F.transform(
                vd, lambda x: F.floor(x / scale + F.lit(0.5)).cast("long")
            ),
        ).when(
            clean & (absmax == 0),
            F.transform(vd, lambda x: F.lit(0).cast("long")),
        ),
    )
    q = F.col("__q")
    checksum = F.aggregate(
        F.zip_with(
            q,
            F.sequence(F.lit(1), F.size(q)),
            lambda qi, i: qi * i.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    err = F.when(
        F.size(vd) > 0,
        F.aggregate(
            F.zip_with(
                q, vd, lambda qi, x: F.abs(qi.cast("double") * scale - x)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.size(vd),
    )
    return emb.select(
        "vec_id",
        F.round(scale, 9).alias("scale"),
        checksum.alias("q_checksum"),
        F.round(err, 9).alias("recon_err"),
    )


QUANTIZE_ORACLE = """
WITH vd AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x)))
           AS absmax,
         (len(list_filter(CAST(embedding AS DOUBLE[]), x -> x IS NULL)) = 0
          AND isfinite(list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                               x -> abs(x))))) AS clean
  FROM embeddings
), scaled AS (
  SELECT vec_id, v, clean,
         CASE WHEN clean AND absmax > 0 THEN absmax / 127.0
              WHEN clean AND absmax = 0 THEN 0.0 END AS scale
  FROM vd
), quant AS (
  SELECT vec_id, v, scale,
         CASE WHEN clean AND scale > 0
              THEN list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT))
              WHEN clean AND scale = 0
              THEN list_transform(v, x -> CAST(0 AS BIGINT)) END AS q
  FROM scaled
)
SELECT vec_id,
       round(scale, 9) AS scale,
       CAST(list_sum(list_transform(q, (qi, i) -> qi * i)) AS BIGINT)
         AS q_checksum,
       CASE WHEN len(q) > 0 THEN
         round(list_sum(list_transform(range(1, len(q) + 1),
                                       i -> abs(q[i] * scale - v[i])))
               / len(q), 9) END AS recon_err
FROM quant
"""


QUERIES.update(
    {
        "embedding_quantize_int8": QuerySpec(
            embedding_quantize_int8, QUANTIZE_ORACLE
        ),
    }
)


# ---------------------------------------------------------------------------
# Persisted IVF index — build/serve separation, the production vector
# search lifecycle: TRAIN once (the same 2-iteration spherical
# k-means as ann_ivf_kmeans_topk), WRITE the index as parquet
# partitioned by cell id (+ a centroid sidecar), then SERVE queries
# against the stored layout. Probing a cell is then literal disk
# partition pruning: the broadcast centroid-routing join triggers
# Spark's dynamic partition pruning, so only the probed cid
# directories are ever opened — at 100 TB a 1024-cell index serves a
# query batch by reading |probed cells| / 1024 of the corpus.
# ---------------------------------------------------------------------------

IVF_INDEX_VERSION = 1


def _ivf_index_path(sf_dir: str) -> str:
    import hashlib as _h
    import os as _os
    import tempfile as _t

    from finmapreduce_spark.sources.asset_store import _data_fingerprint

    tag = _h.md5(
        f"{sf_dir}|ivf-v{IVF_INDEX_VERSION}|k{K_CLUSTERS}i{KMEANS_ITERS}"
        f"|{_data_fingerprint(sf_dir, 'embeddings')}".encode()
    ).hexdigest()[:10]
    return _os.path.join(_t.gettempdir(), f"fmr_ivf_index_{tag}")


def materialize_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Train + write the IVF index if absent; return its root path.

    Layout: ``vectors/cid=N/*.parquet`` (vec_id, v, norm per cell) and
    ``centroids/*.parquet`` (cid, cv, c_norm — the K-row routing
    table). Same crash/race-safe write-once contract as the asset
    store."""
    import os as _os
    import pathlib as _p

    from finmapreduce_spark.sources.asset_store import materialize_once

    def write(tmp: str) -> None:
        v = _emb(spark, sf_dir)
        cents = _train_centroids(v).persist()
        assigned = _assign(v, cents)
        assigned.write.mode("overwrite").partitionBy("cid").parquet(
            _os.path.join(tmp, "vectors")
        )
        cents.write.mode("overwrite").parquet(_os.path.join(tmp, "centroids"))
        cents.unpersist()
        _p.Path(tmp, "_SUCCESS").touch()

    return materialize_once(_ivf_index_path(sf_dir), write)


def ann_ivf_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve top-k from the STORED index: route each query to its
    cell via the centroid sidecar (broadcast K rows), then scan only
    the probed cells of the vectors layout (dynamic partition
    pruning — pinned in test_plans.py). Results are identical to
    ann_ivf_kmeans_topk (same train, same probe rule); what this
    query certifies is the persisted-layout serving path."""
    import os as _os

    root = materialize_ivf_index(spark, sf_dir)
    vectors = spark.read.parquet(_os.path.join(root, "vectors"))
    cents = spark.read.parquet(_os.path.join(root, "centroids"))
    # queries re-embed/route through the centroid table (queries are
    # corpus members here, but routing must not assume that)
    q_vecs = _emb(spark, sf_dir).filter(F.col("vec_id") < N_QUERIES)
    q = (
        _assign(q_vecs, cents)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("q_v"),
            F.col("norm").alias("q_norm"),
            F.col("cid").alias("probed_cid"),
        )
    )
    cell = F.broadcast(q).join(
        vectors.filter(F.col("vec_id") >= N_QUERIES),
        q.probed_cid == vectors.cid,
    )
    cos = _dot(F.col("q_v"), F.col("v")) / (F.col("q_norm") * F.col("norm"))
    ranked = cell.select(
        "q_id",
        F.col("probed_cid").cast("int").alias("probed_cid"),
        F.col("vec_id").alias("neighbor_id"),
        cos.alias("cosine"),
    ).withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
        ),
    )
    return ranked.filter(F.col("rank") <= TOP_K).select(
        "q_id", "probed_cid", F.col("rank").cast("int").alias("rank"),
        "neighbor_id", F.round("cosine", 6).alias("cosine"),
    )


QUERIES.update(
    {
        "ann_ivf_persisted_topk": QuerySpec(
            ann_ivf_persisted_topk, ANN_IVF_KMEANS_ORACLE
        ),
    }
)
