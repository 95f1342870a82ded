"""Mergeable frequency/cardinality sketches over the corpus gram
stream — the 100 TB answer to "how often / how many distinct" when
exact tables don't fit. Reference scope: the reference has no sketch
surface (its corpora are thousands of documents — exact counting is
free there); these are north-star extensions sized for the scale this
engine targets, built DETERMINISTICALLY (md5-digit hashing, the same
arithmetic every sampler/split in this repo uses) so a DuckDB oracle
can replay the sketch bit-for-bit — unlike approx_count_distinct,
whose HLL++ internals are not cross-engine reproducible.

Why sketches are THE scale shape: both are one narrow explode + one
bounded groupBy whose output is CONSTANT-sized (d×w counters / m
registers) regardless of corpus size, and both are mergeable — the
map-side partial aggregation IS the sketch merge, so a 1000-executor
aggregation moves only O(d·w) longs per partition, never the gram
stream. Estimates:

- Count-min (Cormode & Muthukrishnan 2005): est(x) = min_j
  CMS[j][h_j(x)] ≥ true(x), overestimate-only — certified per top-K
  token in the report (the `overestimates` column is provably all
  TRUE; the oracle recomputes it).
- HyperLogLog (Flajolet-Fuchs-Gandouet-Meunier 2007): m=256
  registers, register = max ρ (1-based first-one position of the
  48-bit tail), E = α_m·m²/Σ2^(−M_j) with the small-range
  linear-counting correction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from finmapreduce_spark.queries import QuerySpec
from finmapreduce_spark.session import read_table

QUERIES: dict[str, QuerySpec] = {}

CMS_DEPTH = 4
CMS_WIDTH = 4096  # 3 hex digits
CMS_TOP_K = 20
HLL_M = 256  # 2 hex digits → bucket; next 12 hex digits → 48-bit tail
_HEX = "0123456789abcdef"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


def _words(col):
    return F.split(F.trim(F.lower(col)), r"\s+")


def _hex3(h, start):
    # ONE conv decodes the 3-hex-digit window — identical value to
    # the digit-by-digit strpos arithmetic the oracle keeps (same
    # base-16 expansion), at a third of the string ops and without
    # duplicating the md5 subtree per digit (round-15, guide §1.2
    # per-task work).
    return F.conv(F.substring(h, start, 3), 16, 10).cast("int")


def _hex3_sql(expr: str, start: int) -> str:
    d = (
        lambda i: f"(strpos('0123456789abcdef', substring({expr}, {i}, 1)) - 1)"
    )  # noqa: E731
    return f"(({d(start)} * 16 + {d(start + 1)}) * 16 + {d(start + 2)})"


def _cms_cell(j, w):
    """Count-min row ``j``'s counter index for token ``w``: 3 md5 hex
    digits of 'j:w'. The one cell hash of the batch sketch, its
    probes and the continuous watchlist store."""
    return _hex3(F.md5(F.concat_ws(":", j, w)), 1)


def _cms_sketch(docs: DataFrame) -> DataFrame:
    """(j, b, c) count-min cells of a documents frame.

    Explodes (j, b) INT structs computed inside the word-array
    transform — never word strings (the bloom pre-screen's measured
    string-explode lesson)."""

    def cells(w):
        return F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"), _cms_cell(F.lit(j), w).alias("b")
                )
                for j in range(CMS_DEPTH)
            ]
        )

    return (
        docs.select(
            F.explode(F.flatten(F.transform(_words(F.col("text")), cells)))
            .alias("c")
        )
        .select("c.j", "c.b")
        .groupBy("j", "b")
        .agg(F.count("*").alias("c"))
    )


def _cms_probes(tokens: DataFrame) -> DataFrame:
    """``tokens`` (a string column ``w``) with one row per count-min
    row: its columns plus (j, b), the cell ``w`` reads in row j."""
    rows = F.explode(F.array(*[F.lit(j) for j in range(CMS_DEPTH)]))
    return tokens.select("*", rows.alias("j")).withColumn(
        "b", _cms_cell(F.col("j"), F.col("w"))
    )


def sketch_countmin_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K corpus tokens with their count-min estimates: the sketch
    is d={d} rows × w={w} counters built in ONE bounded groupBy (row
    hash = 3 md5 hex digits of 'j:token'); the report joins each
    top-K token's d probe cells against the broadcast sketch and
    takes the min. `overestimates` (est ≥ true) is the CMS guarantee
    — all TRUE by theorem, recomputed independently by the oracle."""
    from finmapreduce_spark.operators.parallelism import scan_floor

    # guarded scan-parallelism floor: both corpus passes (cells build
    # with CMS_DEPTH md5 per word, token explode) are map-side CPU on
    # what is otherwise one scan split locally; no-op at scale, and
    # unlike the perceptron there are no downstream per-epoch jobs to
    # pay task-scheduling overhead on (the _cls_features_unlabeled
    # counter-case)
    docs = scan_floor(
        _docs(spark, sf_dir).select("doc_id", "text"), "doc_id"
    )
    sketch = _cms_sketch(docs)
    # the truth side keeps the string explode: the report's token
    # column needs the names
    tok = docs.select(F.explode(_words(F.col("text"))).alias("w"))
    true = tok.groupBy("w").agg(F.count("*").alias("true_count"))
    top = true.orderBy(F.desc("true_count"), "w").limit(CMS_TOP_K)
    probes = _cms_probes(top)
    return (
        probes.join(F.broadcast(sketch), ["j", "b"])
        .groupBy("w", "true_count")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            F.col("w").alias("token"),
            "true_count",
            "cms_estimate",
            (F.col("cms_estimate") >= F.col("true_count")).alias(
                "overestimates"
            ),
            F.round(
                (F.col("cms_estimate") - F.col("true_count"))
                / F.col("true_count"),
                6,
            ).alias("rel_err"),
        )
    )


sketch_countmin_grams.__doc__ = sketch_countmin_grams.__doc__.format(
    d=CMS_DEPTH, w=CMS_WIDTH
)

_CMS_CELL_SQL = _hex3_sql("md5(j || ':' || w)", 1)

CMS_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents WHERE text IS NOT NULL
), rows_ AS (SELECT unnest(range({CMS_DEPTH})) AS j),
cells AS (
  SELECT j, {_CMS_CELL_SQL} AS b FROM tok, rows_
), sketch AS (
  SELECT j, b, count(*) AS c FROM cells GROUP BY 1, 2
), true_ AS (
  SELECT w, count(*) AS true_count FROM tok GROUP BY 1
), top AS (
  SELECT w, true_count FROM true_
  ORDER BY true_count DESC, w LIMIT {CMS_TOP_K}
), probes AS (
  SELECT t.w, t.true_count, r.j, {_hex3_sql("md5(r.j || ':' || t.w)", 1)} AS b
  FROM top t, rows_ r
)
SELECT p.w AS token, p.true_count,
       min(s.c) AS cms_estimate,
       min(s.c) >= p.true_count AS overestimates,
       round((min(s.c) - p.true_count) * 1.0 / p.true_count, 6) AS rel_err
FROM probes p JOIN sketch s ON s.j = p.j AND s.b = p.b
GROUP BY p.w, p.true_count
"""


def _batch_hll_registers(docs: DataFrame) -> DataFrame:
    """(b, reg) register table for a documents frame — the whole HLL
    state, ≤m rows. Shared by the batch query and the continuous
    store twin (which merges epochs' register tables by max — the
    sketch homomorphism)."""
    tok = docs.select(F.explode(_words(F.col("text"))).alias("w"))
    h = F.md5(F.col("w"))
    # one conv per register probe (see _hex3) — same value as the
    # two-strpos arithmetic
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    tail = F.conv(F.substring(h, 3, 12), 16, 10).cast("decimal(20,0)").cast(
        "long"
    )
    rho = F.when(tail == 0, F.lit(49)).otherwise(
        F.lit(49) - F.length(F.bin(tail))
    )
    return (
        tok.select(bucket.alias("b"), rho.alias("rho"))
        .groupBy("b")
        .agg(F.max("rho").alias("reg"))
    )


def _hll_estimate_from_regs(regs: DataFrame) -> DataFrame:
    """1-row (n_registers, hll_estimate) from a register table —
    α_m·m²/Σ2^(−M_j) with the small-range linear-counting
    correction; untouched buckets contribute 2⁰ = 1."""
    m = HLL_M
    alpha = 0.7213 / (1 + 1.079 / m)
    agg = regs.groupBy().agg(
        F.sum(F.pow(F.lit(2.0), -F.col("reg"))).alias("denom"),
        F.count("*").alias("nonzero"),
    )
    est_raw = F.lit(alpha * m * m) / (
        F.col("denom") + (F.lit(m) - F.col("nonzero"))
    )
    zeros = F.lit(m) - F.col("nonzero")
    est = F.when(
        (est_raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(est_raw)
    return agg.select(
        F.lit(m).cast("long").alias("n_registers"),
        F.round(est, 6).alias("hll_estimate"),
    )


def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-token estimate vs truth:
    bucket = first 2 md5 hex digits (m={m}), ρ = 1-based first-one
    position of the next 48 bits (49 − length(bin(tail)), 49 for a
    zero tail), registers = max ρ per bucket (ONE bounded groupBy —
    the register table is the whole state and merges by max, which is
    exactly what map-side partial aggregation does), estimate =
    α_m·m²/Σ2^(−M_j) with the small-range linear-counting correction.
    Cross-engine exact because the 'randomness' is md5."""
    docs = _docs(spark, sf_dir)
    regs = _batch_hll_registers(docs)
    true = docs.select(
        F.explode(_words(F.col("text"))).alias("w")
    ).agg(F.countDistinct("w").alias("true_distinct"))
    est = _hll_estimate_from_regs(regs)
    return est.crossJoin(F.broadcast(true)).select(
        "n_registers",
        "hll_estimate",
        "true_distinct",
        F.round(
            (F.col("hll_estimate") - F.col("true_distinct"))
            / F.col("true_distinct"),
            6,
        ).alias("rel_err"),
    )


sketch_hll_distinct.__doc__ = sketch_hll_distinct.__doc__.format(m=HLL_M)

HLL_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents WHERE text IS NOT NULL
), hashed AS (
  SELECT (strpos('0123456789abcdef', substring(md5(w), 1, 1)) - 1) * 16
         + strpos('0123456789abcdef', substring(md5(w), 2, 1)) - 1 AS b,
         list_reduce(list_transform(range(3, 15), i -> CAST(strpos('0123456789abcdef', substring(md5(w), CAST(i AS INT), 1)) - 1 AS BIGINT)), (a, d) -> a * 16 + d) AS tail
  FROM tok
), regs AS (
  SELECT b, max(CASE WHEN tail = 0 THEN 49
                     ELSE 49 - length(bin(tail)) END) AS reg
  FROM hashed GROUP BY 1
), agg AS (
  SELECT sum(power(2.0, -reg)) AS denom, count(*) AS nonzero FROM regs
), est AS (
  SELECT CASE
           WHEN {0.7213 / (1 + 1.079 / HLL_M) * HLL_M * HLL_M}
                / (denom + ({HLL_M} - nonzero)) <= {2.5 * HLL_M}
                AND ({HLL_M} - nonzero) > 0
           THEN {float(HLL_M)} * ln({float(HLL_M)} / ({HLL_M} - nonzero))
           ELSE {0.7213 / (1 + 1.079 / HLL_M) * HLL_M * HLL_M}
                / (denom + ({HLL_M} - nonzero))
         END AS e
  FROM agg
)
SELECT CAST({HLL_M} AS BIGINT) AS n_registers,
       round(e, 6) AS hll_estimate,
       t.true_distinct,
       round((round(e, 6) - t.true_distinct) / t.true_distinct, 6) AS rel_err
FROM est, (SELECT count(DISTINCT w) AS true_distinct FROM tok) t
"""

QUERIES.update(
    {
        "sketch_countmin_grams": QuerySpec(sketch_countmin_grams, CMS_ORACLE),
        "sketch_hll_distinct": QuerySpec(sketch_hll_distinct, HLL_ORACLE),
    }
)


# ---------------------------------------------------------------------------
# Bloom-filter contamination pre-screen — the third sketch: at 100 TB
# the exact eval-overlap join (training.py::contamination_ngram_overlap
# — broadcast of EVERY distinct benchmark shingle) is replaced in
# practice by a Bloom filter over the benchmark set: m bits, k md5
# positions per shingle, no false NEGATIVES by construction (the
# theorem column certifies it per doc: bloom hits ≥ true hits), false
# positives at the theoretical (1 − e^{−kn/m})^k rate visible as the
# gap between the two counts. The bit table is ≤m rows and broadcasts;
# the corpus side stays a narrow explode + broadcast probe — the
# filter costs O(m) memory where the exact set costs O(|bench|).
# Deterministic md5 positions → DuckDB replays the filter bit-for-bit.
# ---------------------------------------------------------------------------

BLOOM_M = 16384  # bits
BLOOM_K = 3  # hashes per element


def _bloom_positions(col, j):
    """Kirsch–Mitzenmacher double hashing: ONE md5 per element, k
    positions (h1 + j·h2) mod m with h2 forced odd (m is a power of
    two, so odd h2 is coprime with m and the j-walk covers all
    positions). Cuts the hash work k× vs k independent md5s with the
    same asymptotic false-positive rate (Kirsch & Mitzenmacher 2006);
    the no-false-negative theorem holds for ANY position function."""
    h = F.md5(col)
    # one conv per 4-digit window (see _hex3) — identical values to
    # the per-digit strpos chain
    h1 = F.conv(F.substring(h, 1, 4), 16, 10).cast("int")
    h2 = F.conv(F.substring(h, 5, 4), 16, 10).cast("int") * 2 + 1
    return F.pmod(h1 + j * h2, F.lit(BLOOM_M))


def _bloom_pos_sql(expr: str, j: str) -> str:
    e = f"md5({expr})"
    d = (
        lambda i: f"(strpos('0123456789abcdef', substring({e}, {i}, 1)) - 1)"
    )  # noqa: E731
    h1 = f"((({d(1)} * 16 + {d(2)}) * 16 + {d(3)}) * 16 + {d(4)})"
    h2 = f"(((({d(5)} * 16 + {d(6)}) * 16 + {d(7)}) * 16 + {d(8)}) * 2 + 1)"
    return f"(({h1} + {j} * {h2}) % {BLOOM_M})"


def sketch_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finmapreduce_spark.queries.dedup import with_shingles
    from finmapreduce_spark.queries.training import BENCH_MOD

    # All per-gram hashes are computed INSIDE the shingle array
    # transform so the explode emits 3 longs per gram, never the gram
    # STRING — the exact lesson contamination_ngram_overlap's xxhash64
    # switch recorded ("string explode was 9.5 s -> 1.7 s at sf0.1");
    # measured again here: the string-exploding front-end cost 7.7 s
    # at sf0.1, the long-struct one 0.6 s. Joins and per-gram grouping
    # key on the xxhash64 long; the oracle stays on gram STRINGS,
    # which is the point: the counts agree — PROBABILISTICALLY, not by
    # construction: a 64-bit xxhash collision between two distinct
    # shingles of one doc would merge their rows and shift
    # n_shingles/n_true_hits off the string-keyed oracle (and could in
    # principle flip no_false_negatives). P(collision) over the corpus
    # gram volume is ~n²/2⁶⁵ — accepted repo-wide for 64-bit key
    # equivalences. Positions come from
    # Kirsch-Mitzenmacher double hashing over md5 digits (one md5 per
    # gram, k derived positions).
    def _gram_struct(s_):
        h = F.md5(s_)
        # one conv per 4-digit window (see _hex3): the per-digit form
        # embedded EIGHT copies of the md5 subtree in the transform
        # lambda — 2 remain
        h1 = F.conv(F.substring(h, 1, 4), 16, 10).cast("int")
        h2 = F.conv(F.substring(h, 5, 4), 16, 10).cast("int") * 2 + 1
        return F.struct(
            F.xxhash64(s_).alias("hs"), h1.alias("h1"), h2.alias("h2")
        )

    # The default with_shingles floor STAYS despite the near-unique
    # downstream distinct() (the n-gram partial-agg counter-case that
    # keeps the LM/contamination lanes unfloored): here the per-row
    # explode + md5 + two conv decodes dominate, and the floor's
    # repartition runs BEFORE the gram explode so it ships doc rows,
    # not gram rows. Measured r16 (solo_bench, warm): floor ON 2.02 s
    # / 1.1 MB shuffle vs floor OFF 2.48 s / 4.3 MB.
    sh = (
        with_shingles(_docs(spark, sf_dir))
        .select(
            "doc_id",
            F.explode(F.transform("shingles", _gram_struct)).alias("g"),
        )
        .select("doc_id", "g.hs", "g.h1", "g.h2")
        .persist()
    )
    ks = F.explode(F.array(*[F.lit(j) for j in range(BLOOM_K)])).alias("j")
    pos = F.pmod(F.col("h1") + F.col("j") * F.col("h2"), F.lit(BLOOM_M))
    bench = (
        sh.filter(F.pmod("doc_id", F.lit(BENCH_MOD)) == 0)
        .select("hs", "h1", "h2")
        .distinct()
    )
    bits = (
        bench.select("h1", "h2", ks)
        .select(pos.alias("bit"))
        .distinct()
        .withColumn("set_", F.lit(1))
    )
    train = sh.filter(F.pmod("doc_id", F.lit(BENCH_MOD)) != 0)
    probed = (
        train.select("doc_id", "hs", "h1", "h2", ks)
        .select("doc_id", "hs", pos.alias("bit"))
        .join(F.broadcast(bits), "bit", "left")
        .groupBy("doc_id", "hs")
        .agg(
            (F.sum(F.coalesce("set_", F.lit(0))) == BLOOM_K).alias(
                "bloom_hit"
            )
        )
    )
    truth = train.join(
        F.broadcast(bench.select("hs").withColumn("true_", F.lit(1))),
        "hs",
        "left",
    ).select("doc_id", "hs", F.coalesce("true_", F.lit(0)).alias("true_"))
    report = (
        probed.join(truth, ["doc_id", "hs"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.col("bloom_hit").cast("long")).alias("n_bloom_hits"),
            F.sum("true_").alias("n_true_hits"),
        )
    )
    return report.filter(F.col("n_bloom_hits") > 0).select(
        "doc_id",
        "n_shingles",
        "n_bloom_hits",
        "n_true_hits",
        (F.col("n_bloom_hits") >= F.col("n_true_hits")).alias(
            "no_false_negatives"
        ),
    )


def _bloom_oracle() -> str:
    from finmapreduce_spark.queries.training import _SHINGLE_SQL, BENCH_MOD

    return f"""
WITH sh AS ({_SHINGLE_SQL}),
ks AS (SELECT unnest(range({BLOOM_K})) AS j),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % {BENCH_MOD} = 0),
bits AS (
  SELECT DISTINCT {_bloom_pos_sql('b.s', 'k.j')} AS bit
  FROM bench b, ks k
),
train AS (SELECT * FROM sh WHERE doc_id % {BENCH_MOD} <> 0),
probed_pos AS (
  SELECT t.doc_id, t.s, {_bloom_pos_sql('t.s', 'k.j')} AS bit
  FROM train t, ks k
),
probed AS (
  SELECT p.doc_id, p.s, count(bt.bit) = {BLOOM_K} AS bloom_hit
  FROM probed_pos p LEFT JOIN bits bt ON bt.bit = p.bit
  GROUP BY p.doc_id, p.s
),
truth AS (
  SELECT t.doc_id, t.s,
         CASE WHEN b.s IS NULL THEN 0 ELSE 1 END AS true_
  FROM train t LEFT JOIN bench b ON b.s = t.s
),
report AS (
  SELECT p.doc_id,
         count(*) AS n_shingles,
         CAST(sum(CASE WHEN p.bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bloom_hits,
         CAST(sum(t.true_) AS BIGINT) AS n_true_hits
  FROM probed p JOIN truth t ON t.doc_id = p.doc_id AND t.s = p.s
  GROUP BY p.doc_id
)
SELECT doc_id, n_shingles, n_bloom_hits, n_true_hits,
       n_bloom_hits >= n_true_hits AS no_false_negatives
FROM report WHERE n_bloom_hits > 0
"""


QUERIES.update(
    {
        "sketch_bloom_contamination": QuerySpec(
            sketch_bloom_contamination, _bloom_oracle()
        ),
    }
)


# ---------------------------------------------------------------------------
# GROUPED HyperLogLog — the sketch pattern production actually runs:
# distinct-user counts per time window over an event stream too big
# to count exactly. One register table keyed by (window, bucket) —
# m rows per group, still constant per group regardless of event
# volume, still max-mergeable (so partial aggregation and late-data
# re-aggregation both just work). The per-group estimate applies the
# same α_m·m²/Σ2^(−M_j) + linear-counting correction formula
# group-wise; truth (exact countDistinct) rides along per group for
# the rel_err audit.
# ---------------------------------------------------------------------------


def sketch_hll_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = HLL_M
    ev = read_table(spark, sf_dir, "events").select(
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd").alias(
            "day"
        ),
        F.col("user_id"),
    )
    h = F.md5(F.col("user_id").cast("string"))
    # one conv (see _hex3) — same value as the two-strpos arithmetic
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    tail = F.conv(F.substring(h, 3, 12), 16, 10).cast("decimal(20,0)").cast(
        "long"
    )
    rho = F.when(tail == 0, F.lit(49)).otherwise(
        F.lit(49) - F.length(F.bin(tail))
    )
    regs = (
        ev.select("day", bucket.alias("b"), rho.alias("rho"))
        .groupBy("day", "b")
        .agg(F.max("rho").alias("reg"))
    )
    alpha = 0.7213 / (1 + 1.079 / m)
    agg = regs.groupBy("day").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("reg"))).alias("denom"),
        F.count("*").alias("nonzero"),
    )
    est_raw = F.lit(alpha * m * m) / (
        F.col("denom") + (F.lit(m) - F.col("nonzero"))
    )
    zeros = F.lit(m) - F.col("nonzero")
    est = F.when(
        (est_raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(est_raw)
    true = ev.groupBy("day").agg(
        F.countDistinct("user_id").alias("true_users")
    )
    return (
        agg.join(true, "day")
        .select(
            "day",
            F.round(est, 6).alias("hll_users"),
            "true_users",
            F.round(
                (F.round(est, 6) - F.col("true_users")) / F.col("true_users"),
                6,
            ).alias("rel_err"),
        )
    )


_HLL_USERS_ALPHA_MM = 0.7213 / (1 + 1.079 / HLL_M) * HLL_M * HLL_M

HLL_USERS_ORACLE = f"""
WITH ev AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, user_id FROM events
), hashed AS (
  SELECT day,
         (strpos('0123456789abcdef',
                 substring(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 16
         + strpos('0123456789abcdef',
                  substring(md5(CAST(user_id AS VARCHAR)), 2, 1)) - 1 AS b,
         list_reduce(list_transform(range(3, 15),
             i -> CAST(strpos('0123456789abcdef',
                  substring(md5(CAST(user_id AS VARCHAR)), CAST(i AS INT), 1))
                  - 1 AS BIGINT)),
             (a, d) -> a * 16 + d) AS tail
  FROM ev
), regs AS (
  SELECT day, b,
         max(CASE WHEN tail = 0 THEN 49 ELSE 49 - length(bin(tail)) END)
           AS reg
  FROM hashed GROUP BY 1, 2
), agg AS (
  SELECT day, sum(power(2.0, -reg)) AS denom, count(*) AS nonzero
  FROM regs GROUP BY 1
), est AS (
  SELECT day,
         CASE
           WHEN {_HLL_USERS_ALPHA_MM} / (denom + ({HLL_M} - nonzero))
                <= {2.5 * HLL_M} AND ({HLL_M} - nonzero) > 0
           THEN {float(HLL_M)} * ln({float(HLL_M)} / ({HLL_M} - nonzero))
           ELSE {_HLL_USERS_ALPHA_MM} / (denom + ({HLL_M} - nonzero))
         END AS e
  FROM agg
), true_ AS (
  SELECT day, count(DISTINCT user_id) AS true_users FROM ev GROUP BY 1
)
SELECT e.day,
       round(e.e, 6) AS hll_users,
       t.true_users,
       round((round(e.e, 6) - t.true_users) / t.true_users, 6) AS rel_err
FROM est e JOIN true_ t USING (day)
"""

QUERIES.update(
    {
        "sketch_hll_users_daily": QuerySpec(
            sketch_hll_users_daily, HLL_USERS_ORACLE
        ),
    }
)


# ---------------------------------------------------------------------------
# Deterministic quantile sketch (r13) — the fourth sketch. CMS answers
# "how often", HLL "how many distinct", Bloom "have we seen it"; this
# answers "what's the p99" (length/score distributions at 100 TB).
# percentile_approx is not cross-engine-reproducible — the exact gap
# the md5-deterministic CMS/HLL filled — so the sketch here is an
# ADAPTIVE HASH-LEVEL SAMPLER (Wegman's adaptive sampling, the
# deterministic cousin of a KLL compactor tree): row level ℓ = number
# of leading zero bits of a 48-bit md5 tail of the row KEY
# (P(ℓ ≥ L) = 2^−L exactly), retained set = {rows : ℓ ≥ L} for the
# smallest L whose retained count fits the capacity. Retention is a
# PURE PER-ROW PREDICATE given L, so the sketch is mergeable by
# construction: union of per-part samples refiltered at the combined
# L IS the sample of the union (pinned in test_properties), and the
# only corpus-sized aggregation is the ≤49-row level-count groupBy —
# map-side combine is the merge. Every retained row has inclusion
# probability 2^−L, so the retained sample is uniform and the
# q-quantile estimate is simply the sample value at position
# ceil(q·n_s) — no weights. Deterministic md5 → DuckDB replays the
# level assignment, the adaptive threshold, the retained set, and the
# selection bit-for-bit.
#
# Truth rides along without a global sort: the exact quantile comes
# from a cumulative count over the DISTINCT value domain (doc lengths
# — domain-sized, ~10³ rows, the monthly-histogram shape), and
# rank_err certifies the sketch against it per percentile.
# ---------------------------------------------------------------------------

from finmapreduce_spark.queries._qsk_shared import (  # noqa: E402
    _QSK_TAIL_SQL,
    QSK_CAP,
    QSK_OUTLIER_PCT,
    QSK_PCTS,
    qsk_cutoff_sql_ctes,
)


def _qsk_base(docs: DataFrame) -> DataFrame:
    """(doc_id, val, lvl): per-doc token count + deterministic hash
    level (leading-zero bits of the 48-bit md5 tail of 'q:'+doc_id —
    _qsk_shared.qsk_lvl_col, shared with the CCNet bucketer).
    Shared by the batch query and the continuous store twin."""
    from finmapreduce_spark.queries._qsk_shared import qsk_lvl_col

    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.size(_words(F.col("text"))).cast("long").alias("val"),
        qsk_lvl_col().alias("lvl"),
    )


def _qsk_threshold(lvl_counts: DataFrame) -> DataFrame:
    """1-row (L): smallest level whose ≥-cumulative count fits the
    capacity. The window runs over ≤49 level rows, never the data."""
    from pyspark.sql import Window as W

    wcum = (
        W.orderBy(F.desc("lvl"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        lvl_counts.select(
            "lvl", F.sum("c").over(wcum).alias("cge")
        )
        .agg(
            F.min(
                F.when(F.col("cge") <= QSK_CAP, F.col("lvl"))
            ).alias("L")
        )
    )


def _qsk_select(sample: DataFrame, pcts: DataFrame) -> DataFrame:
    """(percentile, sketch_value, n_retained) from a retained sample
    (≤CAP rows — the unpartitioned window is capacity-bounded, the
    same K-row exemption as the band-offset prefix sums)."""
    from pyspark.sql import Window as W

    s = sample.select(
        "val",
        F.row_number().over(W.orderBy("val", "doc_id")).alias("rn"),
        F.count("*")
        .over(
            W.partitionBy().rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        )
        .alias("n_s"),
    )
    return s.join(
        F.broadcast(pcts),
        F.col("rn") == F.ceil(F.col("percentile") * F.col("n_s")),
    ).select(
        "percentile",
        F.col("val").alias("sketch_value"),
        F.col("n_s").cast("long").alias("n_retained"),
    )


def sketch_quantile_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    base = _qsk_base(_docs(spark, sf_dir)).persist()
    thresh = _qsk_threshold(
        base.groupBy("lvl").agg(F.count("*").alias("c"))
    )
    sample = base.join(
        F.broadcast(thresh), F.col("lvl") >= F.col("L")
    )
    pcts = spark.createDataFrame(
        [(p,) for p in QSK_PCTS], "percentile double"
    )
    sel = _qsk_select(sample.select("doc_id", "val"), pcts)

    n_total = base.agg(F.count("*").alias("n_total"))
    wv = W.orderBy("val").rowsBetween(W.unboundedPreceding, W.currentRow)
    vc = (
        base.groupBy("val")
        .agg(F.count("*").alias("c"))
        .select("val", F.sum("c").over(wv).alias("cum"))
    )
    tv = (
        vc.crossJoin(F.broadcast(n_total))
        .join(
            F.broadcast(pcts),
            F.col("cum") >= F.ceil(F.col("percentile") * F.col("n_total")),
        )
        .groupBy("percentile")
        .agg(F.min("val").alias("true_value"))
    )
    level = thresh.select(F.col("L").cast("long").alias("level"))
    return (
        vc.withColumnRenamed("val", "sketch_value")
        .withColumnRenamed("cum", "true_rank")
        .join(F.broadcast(sel), "sketch_value")
        .join(F.broadcast(tv), "percentile")
        .crossJoin(F.broadcast(n_total))
        .crossJoin(F.broadcast(level))
        .select(
            "percentile",
            "sketch_value",
            "true_value",
            "n_retained",
            "level",
            F.round(
                F.abs(
                    F.col("true_rank")
                    - F.col("percentile") * F.col("n_total")
                )
                / F.col("n_total"),
                6,
            ).alias("rank_err"),
        )
    )


QSK_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
              AS BIGINT) AS val,
         CAST(CASE WHEN tail = 0 THEN 48
                   ELSE 48 - length(bin(tail)) END AS BIGINT) AS lvl
  FROM (SELECT doc_id, text, {_QSK_TAIL_SQL} AS tail
        FROM documents WHERE text IS NOT NULL)
), lv AS (
  SELECT lvl, sum(c) OVER (ORDER BY lvl DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cge
  FROM (SELECT lvl, count(*) AS c FROM base GROUP BY 1)
), thr AS (
  SELECT min(CASE WHEN cge <= {QSK_CAP} THEN lvl END) AS L FROM lv
), samp AS (
  SELECT b.doc_id, b.val FROM base b, thr WHERE b.lvl >= thr.L
), s AS (
  SELECT val, row_number() OVER (ORDER BY val, doc_id) AS rn,
         count(*) OVER () AS n_s
  FROM samp
), pct AS (
  SELECT CAST(unnest([{", ".join(str(p) for p in QSK_PCTS)}]) AS DOUBLE)
    AS percentile
), sel AS (
  SELECT percentile, val AS sketch_value,
         CAST(n_s AS BIGINT) AS n_retained
  FROM s JOIN pct ON rn = CAST(ceil(percentile * n_s) AS BIGINT)
), n AS (SELECT count(*) AS n_total FROM base),
vc AS (
  SELECT val, sum(c) OVER (ORDER BY val
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM (SELECT val, count(*) AS c FROM base GROUP BY 1)
), tv AS (
  SELECT percentile, min(val) AS true_value
  FROM vc, n, pct WHERE cum >= ceil(percentile * n_total)
  GROUP BY 1
)
SELECT sel.percentile, sel.sketch_value, tv.true_value,
       sel.n_retained, CAST(thr.L AS BIGINT) AS level,
       round(abs(vc.cum - sel.percentile * n.n_total) / n.n_total, 6)
         AS rank_err
FROM sel
JOIN tv USING (percentile)
JOIN vc ON vc.val = sel.sketch_value, n, thr
"""

QUERIES.update(
    {
        "sketch_quantile_doclen": QuerySpec(
            sketch_quantile_doclen, QSK_ORACLE
        ),
    }
)


# ---------------------------------------------------------------------------
# Grouped quantile sketch (r13 — the per-group form, mirroring
# sketch_hll_users_daily's role for HLL): per-LANGUAGE doc-length
# quantiles with an independent adaptive threshold per group. The
# sampler composes group-wise for free — levels are per-row, the
# threshold is a per-group aggregate, retention stays a per-row
# predicate — so one query serves every group and map-side combine
# still IS the merge within each group. Capacity is 64 here (vs the
# global sketch's 256) so the adaptive level genuinely engages on
# the local fixture's per-lang volumes.
# ---------------------------------------------------------------------------

from finmapreduce_spark.queries._qsk_shared import QSK_GROUP_CAP  # noqa: E402,F401


def sketch_quantile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    base = (
        _qsk_base(_docs(spark, sf_dir))
        .join(
            _docs(spark, sf_dir).select("doc_id", "lang"), "doc_id"
        )
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
        "L",
        F.row_number().over(wrn).alias("rn"),
        F.count("*").over(wall).alias("n_s"),
    )
    pcts = spark.createDataFrame(
        [(p,) for p in QSK_PCTS], "percentile double"
    )
    sel = s.join(
        F.broadcast(pcts),
        F.col("rn") == F.ceil(F.col("percentile") * F.col("n_s")),
    ).select(
        "lang",
        "percentile",
        F.col("val").alias("sketch_value"),
        F.col("n_s").cast("long").alias("n_retained"),
        F.col("L").cast("long").alias("level"),
    )
    # exact per-group truth via the value-domain cumulative count
    n_tot = base.groupBy("lang").agg(F.count("*").alias("n_total"))
    wv = (
        W.partitionBy("lang")
        .orderBy("val")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    vc = (
        base.groupBy("lang", "val")
        .agg(F.count("*").alias("c"))
        .select("lang", "val", F.sum("c").over(wv).alias("cum"))
    )
    tv = (
        vc.join(F.broadcast(n_tot), "lang")
        .join(
            F.broadcast(pcts),
            F.col("cum") >= F.ceil(F.col("percentile") * F.col("n_total")),
        )
        .groupBy("lang", "percentile")
        .agg(F.min("val").alias("true_value"))
    )
    return (
        vc.withColumnRenamed("val", "sketch_value")
        .withColumnRenamed("cum", "true_rank")
        .join(F.broadcast(sel), ["lang", "sketch_value"])
        .join(F.broadcast(tv), ["lang", "percentile"])
        .join(F.broadcast(n_tot), "lang")
        .select(
            "lang",
            "percentile",
            "sketch_value",
            "true_value",
            "n_retained",
            "level",
            F.round(
                F.abs(
                    F.col("true_rank")
                    - F.col("percentile") * F.col("n_total")
                )
                / F.col("n_total"),
                6,
            ).alias("rank_err"),
        )
    )


QSK_LANG_ORACLE = f"""
WITH base AS (
  SELECT doc_id, lang,
         CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
              AS BIGINT) AS val,
         CAST(CASE WHEN tail = 0 THEN 48
                   ELSE 48 - length(bin(tail)) END AS BIGINT) AS lvl
  FROM (SELECT doc_id, lang, text, {_QSK_TAIL_SQL} AS tail
        FROM documents WHERE text IS NOT NULL)
), lv AS (
  SELECT lang, lvl, sum(c) OVER (PARTITION BY lang ORDER BY lvl DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cge
  FROM (SELECT lang, lvl, count(*) AS c FROM base GROUP BY 1, 2)
), thr AS (
  SELECT lang, min(CASE WHEN cge <= {QSK_GROUP_CAP} THEN lvl END) AS L
  FROM lv GROUP BY 1
), samp AS (
  SELECT b.lang, b.doc_id, b.val, t.L
  FROM base b JOIN thr t USING (lang) WHERE b.lvl >= t.L
), s AS (
  SELECT lang, val, L,
         row_number() OVER (PARTITION BY lang ORDER BY val, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n_s
  FROM samp
), pct AS (
  SELECT CAST(unnest([{", ".join(str(p) for p in QSK_PCTS)}]) AS DOUBLE)
    AS percentile
), sel AS (
  SELECT lang, percentile, val AS sketch_value,
         CAST(n_s AS BIGINT) AS n_retained, CAST(L AS BIGINT) AS level
  FROM s JOIN pct ON rn = CAST(ceil(percentile * n_s) AS BIGINT)
), n AS (SELECT lang, count(*) AS n_total FROM base GROUP BY 1),
vc AS (
  SELECT lang, val, sum(c) OVER (PARTITION BY lang ORDER BY val
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM (SELECT lang, val, count(*) AS c FROM base GROUP BY 1, 2)
), tv AS (
  SELECT vc.lang, percentile, min(val) AS true_value
  FROM vc JOIN n USING (lang), pct
  WHERE cum >= ceil(percentile * n_total)
  GROUP BY 1, 2
)
SELECT sel.lang, sel.percentile, sel.sketch_value, tv.true_value,
       sel.n_retained, sel.level,
       round(abs(vc.cum - sel.percentile * n.n_total) / n.n_total, 6)
         AS rank_err
FROM sel
JOIN tv ON tv.lang = sel.lang AND tv.percentile = sel.percentile
JOIN vc ON vc.lang = sel.lang AND vc.val = sel.sketch_value
JOIN n ON n.lang = sel.lang
"""

QUERIES.update(
    {
        "sketch_quantile_by_lang": QuerySpec(
            sketch_quantile_by_lang, QSK_LANG_ORACLE
        ),
    }
)


# ---------------------------------------------------------------------------
# Length-outlier flags from the quantile sketch (r13): the cleaning
# step the sketch exists for — at 100 TB "drop documents beyond the
# p99 length" cannot afford an exact global quantile, so the cutoff
# comes from the DETERMINISTIC sampler (recompute-stable across jobs
# and engines, unlike percentile_approx) and is applied as a per-row
# broadcast predicate. Output: the flagged docs with the cutoff and
# the exact percentile-rank of each (truth rides along via the
# value-domain cumulative count, so the report certifies how far
# beyond the SKETCH cutoff each flagged doc truly sits).
# ---------------------------------------------------------------------------

def qsk_length_cutoff(
    spark: SparkSession,
    docs: DataFrame | None = None,
    base: DataFrame | None = None,
    pct: float = QSK_OUTLIER_PCT,
) -> DataFrame:
    """1-row (cutoff): the deterministic-sketch length percentile —
    the reusable trim threshold. Shared by quality_length_outliers
    (which reports the flagged docs with truth ranks) and the curation
    capstone (which applies it as a funnel stage). Pass ``base`` to
    reuse an already-persisted _qsk_base frame."""
    if base is None:
        base = _qsk_base(docs)
    thresh = _qsk_threshold(
        base.groupBy("lvl").agg(F.count("*").alias("c"))
    )
    sample = base.join(F.broadcast(thresh), F.col("lvl") >= F.col("L"))
    pcts = spark.createDataFrame([(pct,)], "percentile double")
    return _qsk_select(sample.select("doc_id", "val"), pcts).select(
        F.col("sketch_value").alias("cutoff")
    )


def quality_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    base = _qsk_base(_docs(spark, sf_dir)).persist()
    cutoff = qsk_length_cutoff(spark, base=base)
    n_tot = base.agg(F.count("*").alias("n_total"))
    wv = W.orderBy("val").rowsBetween(W.unboundedPreceding, W.currentRow)
    vc = (
        base.groupBy("val")
        .agg(F.count("*").alias("c"))
        .select("val", F.sum("c").over(wv).alias("cum"))
    )
    return (
        base.crossJoin(F.broadcast(cutoff))
        .filter(F.col("val") > F.col("cutoff"))
        .join(vc, "val")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "doc_id",
            F.col("val").alias("n_tokens"),
            "cutoff",
            F.round(F.col("cum") / F.col("n_total"), 6).alias(
                "true_pct_rank"
            ),
        )
    )


QSK_OUTLIER_ORACLE = f"""
WITH {qsk_cutoff_sql_ctes()}, n AS (SELECT count(*) AS n_total FROM base),
vc AS (
  SELECT val, sum(c) OVER (ORDER BY val
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM (SELECT val, count(*) AS c FROM base GROUP BY 1)
)
SELECT b.doc_id, b.val AS n_tokens, c.cutoff,
       round(vc.cum * 1.0 / n.n_total, 6) AS true_pct_rank
FROM base b, cutoff c, n
JOIN vc ON vc.val = b.val
WHERE b.val > c.cutoff
"""

QUERIES.update(
    {
        "quality_length_outliers": QuerySpec(
            quality_length_outliers, QSK_OUTLIER_ORACLE
        ),
    }
)
