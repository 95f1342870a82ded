"""Deduplication suite (north-star training-data-pipeline operators).

Five dedup families over `documents` / `embeddings`:
  exact (hash-groupBy) · MinHash signatures · MinHash-LSH banded
  pair-join · SimHash · blocked n-gram Jaccard · embedding-cosine.

Design for 100 TB:
- Signatures (minhash/simhash/fingerprint) are narrow maps — no
  shuffle, no Python; md5-based hashing so any engine reproduces them.
- Candidate generation is always *blocked* (LSH band buckets, or
  (lang, length-bucket) keys) — the O(n²) all-pairs join never
  materializes; the join key IS the block, so the shuffle partitions
  by block and skew is bounded by block size.
- Verification (true Jaccard / cosine) runs only on candidates.

The reference has only the embryonic form (similarity matching in
scripts/augment_finqa.py:63-160); these generalize it per the repo
north star.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from finmapreduce_spark.operators.checkpoints import (
    iter_checkpoint,
    release_iter_checkpoint,
)
from finmapreduce_spark.queries import QuerySpec
from finmapreduce_spark.session import read_table

SHINGLE_K = 3
N_HASHES = 8
BAND_ROWS = 4  # 2 bands × 4 rows
JACCARD_THRESHOLD = 0.18


def _docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents")


def _words(col):
    return F.split(F.trim(F.lower(col)), r"\s+")


def _shingles_of(words):
    """Distinct 3-word shingles over an ALREADY-MATERIALIZED words
    column (1-based element_at ≡ DuckDB list_extract). A doc with
    fewer than SHINGLE_K words yields ONE whole-doc shingle — the
    CASE guard is load-bearing twice over: under ANSI mode (the
    Spark 4 default, and the driver's plain session) the unguarded
    ``element_at(words, i + 2)`` THROWS on a 1–2-word doc instead of
    returning NULL, and even with ANSI off Spark's null-skipping
    concat_ws would emit a partial shingle where DuckDB's ``||``
    yields NULL — the guard gives both engines the same total
    semantics on short docs.

    Perf: ``words`` must be a column reference, not the inline
    ``split(...)`` expression — inside a higher-order-function lambda
    Spark re-evaluates inline subexpressions PER ELEMENT, turning
    shingling into O(n²) splits (measured 20× slower at sf0.1).
    """
    n = F.size(words)
    idx = F.sequence(F.lit(1), n - F.lit(SHINGLE_K - 1))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(words, i + F.lit(j)) for j in range(SHINGLE_K)]
        ),
    )
    # Three-way: normal shingles / whole-doc shingle for short docs /
    # NULL for NULL text. The last branch matters: a [NULL] element
    # array would make NULL-text docs MATCHABLE in Spark
    # (xxhash64(NULL) is a real key, array_intersect keeps NULL
    # elements) while DuckDB's list functions drop NULLs — NULL
    # shingles drop the failed-parse doc from every downstream
    # explode/join in BOTH engines instead.
    # guard on words itself, not size(words): with ANSI off,
    # size(NULL) is -1 (non-NULL) and the short-doc branch would
    # resurrect the [NULL]-shingle matchability bug
    return (
        F.when(n >= SHINGLE_K, F.array_distinct(sh))
        .when(words.isNotNull(), F.array(F.array_join(words, " ")))
    )


def with_shingles(
    df, text_col: str = "text", floor: bool = True, key_col: str = "doc_id"
):
    """df + a ``shingles`` column, with the word split materialized
    first so the shingle lambda is O(n), not O(n²).

    ``floor``: guarded scan-parallelism floor (guide §6; operators/
    parallelism.py) BEFORE the split+shingle projection — shingling
    and every signature build above it (minhash/simhash votes,
    embeddings) are pure per-doc CPU, and a small corpus scans into
    ONE split, serializing them onto one core. No-op at scale (real
    scans have >= defaultParallelism splits). The floor repartitions
    by ``key_col`` (default ``doc_id`` — the corpus key every catalog
    caller carries; round-16 advice: the requirement is part of the
    signature now, not an implicit AnalysisException). The streaming
    store builders pass floor=False: their micro-batch partitioning
    is the stream's concern, not this helper's."""
    if floor:
        from finmapreduce_spark.operators.parallelism import scan_floor

        df = scan_floor(df, key_col)
    return df.withColumn("__words", _words(F.col(text_col))).withColumn(
        "shingles", _shingles_of(F.col("__words"))
    ).drop("__words")


_SHINGLES_SQL = f"""
  SELECT doc_id, lang, n_chars,
         CASE WHEN len(words) >= {SHINGLE_K} THEN list_distinct(list_transform(
           range(1, len(words) - {SHINGLE_K - 1} + 1),
           i -> list_extract(words, i) || ' ' || list_extract(words, i + 1)
                || ' ' || list_extract(words, i + 2)
         )) WHEN words IS NOT NULL
            THEN [array_to_string(words, ' ')] END AS shingles
  FROM (SELECT doc_id, lang, n_chars,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS words
        FROM documents)
"""


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy on normalized content
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group by content hash; keep min doc_id per group (the canonical
    exact-dedup keeper rule). One shuffle on the hash — uniform keys,
    no skew by construction."""
    docs = _docs(spark, sf_dir)
    h = F.md5(F.trim(F.lower("text")))
    return (
        docs.select(h.alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


DEDUP_EXACT_ORACLE = """
SELECT md5(trim(lower(text))) AS content_hash,
       min(doc_id) AS keeper_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# MinHash signatures: h_i(doc) = min over shingles of md5(i || ':' || s).
# Narrow map (array_min ∘ transform) — zero shuffle, engine-reproducible.
# ---------------------------------------------------------------------------

def _minhash_cols(shingle_col):
    return [
        F.array_min(
            F.transform(
                shingle_col, lambda s: F.md5(F.concat(F.lit(f"{i}:"), s))
            )
        ).alias(f"mh_{i}")
        for i in range(N_HASHES)
    ]


def _band_exprs():
    """The two LSH band keys: md5 over the '|'-joined half-signature.
    Built with NULL-PROPAGATING concat, not concat_ws: a NULL-text doc
    has NULL minhashes, and concat_ws would SKIP them — hashing the
    empty string into a real bucket (and colliding every NULL doc into
    it) where the DuckDB oracle's ``||`` yields NULL. concat keeps the
    engines identical on NULL rows and is byte-identical to concat_ws
    on real signatures (adversarial parity sweep)."""

    def _join(idxs):
        parts = []
        for n, i in enumerate(idxs):
            if n:
                parts.append(F.lit("|"))
            parts.append(F.col(f"mh_{i}"))
        return F.md5(F.concat(*parts))

    return _join(range(BAND_ROWS)), _join(range(BAND_ROWS, N_HASHES))


def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_shingles(_docs(spark, sf_dir))
    sig = docs.select("doc_id", *_minhash_cols(F.col("shingles")))
    band0, band1 = _band_exprs()

    return sig.select("doc_id", "mh_0", band0.alias("band_0"), band1.alias("band_1"))


_MINHASH_SQL_COLS = ", ".join(
    f"list_min(list_transform(shingles, s -> md5('{i}:' || s))) AS mh_{i}"
    for i in range(N_HASHES)
)
_BAND0 = "md5(" + " || '|' || ".join(f"mh_{i}" for i in range(BAND_ROWS)) + ")"
_BAND1 = "md5(" + " || '|' || ".join(f"mh_{i}" for i in range(BAND_ROWS, N_HASHES)) + ")"

DEDUP_MINHASH_ORACLE = f"""
SELECT doc_id, mh_0, {_BAND0} AS band_0, {_BAND1} AS band_1
FROM (SELECT doc_id, {_MINHASH_SQL_COLS} FROM ({_SHINGLES_SQL}))
"""


# ---------------------------------------------------------------------------
# MinHash-LSH pair join: docs sharing any band bucket are candidates;
# candidates are verified with true shingle Jaccard.
# ---------------------------------------------------------------------------

def _lsh_band_buckets(
    spark: SparkSession,
    sf_dir: str,
    shingled: DataFrame | None = None,
    scratch: list | None = None,
) -> DataFrame:
    """The shared band-bucket table (doc_id, hashed shingles, band_id,
    key) behind BOTH pair builders — one definition, so a banding or
    shingle-hashing change cannot silently diverge the plain and grid
    variants out of their shared oracle.

    ``shingled``: an already-built (and persisted) with_shingles frame
    to reuse — the master keep-list builds the scan→split→shingle
    pipeline ONCE and shares it across its LSH/SimHash/semantic lanes
    instead of re-running it per lane (round-10 next-round candidate).

    Verify payload is 64-bit shingle hashes, not the shingle strings:
    the intersection COUNT is hash-invariant (collision odds within one
    pair ≈ |sh|²/2⁶⁴ ≈ 1e-14), the shuffle payload drops ~3× and the
    per-pair set work runs on longs. The distinct-shingle set is
    hashed AFTER array_distinct, so |A|, |B| and |A∩B| are exactly
    the string-set cardinalities the oracle computes.

    Persisted: both sides of the pair join read this table — without
    the cache the whole scan→shingle→minhash pipeline runs once per
    side (measured ~2.5 s of the 6.8 s at sf0.1). MEMORY_AND_DISK
    default: at cluster scale the bucket table spills rather than
    OOMs; it is |docs|×2 rows of long-arrays, far smaller than the
    corpus. Lifecycle is caller-owned (clearCache), as catalog-wide.
    """
    docs = (
        shingled
        if shingled is not None
        else with_shingles(_docs(spark, sf_dir))
    )
    sig = docs.select(
        "doc_id",
        F.transform("shingles", lambda s: F.xxhash64(s)).alias("sh_hashed"),
        *_minhash_cols(F.col("shingles")),
    )
    band0, band1 = _band_exprs()
    out = (
        sig.select(
            "doc_id",
            F.col("sh_hashed").alias("shingles"),
            F.explode(
                F.array(
                    F.struct(F.lit(0).alias("band_id"), band0.alias("key")),
                    F.struct(F.lit(1).alias("band_id"), band1.alias("key")),
                )
            ).alias("b"),
        )
        .select("doc_id", "shingles", "b.band_id", "b.key")
        .persist()
    )
    if scratch is not None:
        scratch.append(out)
    return out


def _attach_shingle_sets(cand: DataFrame, buckets: DataFrame) -> DataFrame:
    """``cand`` (doc_a, doc_b) + ``sh_a``/``sh_b`` hashed-shingle
    arrays from the persisted bucket table's band-0 slice (one row
    per doc — guide §2.3/§8 "decide with small rows, attach the heavy
    payload once": the candidate join and the grid tiler move bare
    8-byte ids; the shingle arrays cross the wire exactly once here,
    instead of riding the in-bucket index window, both replicated
    explode sides and the candidate dedup). Joins are pinned
    sort-merge for the pairgrid reasons: both sides are corpus-derived
    (candidates via explode, the shingle table corpus-sized), so a
    broadcast is never legitimate at scale and a shuffled-hash build
    is an unspillable per-partition map."""
    sig = buckets.filter(F.col("band_id") == 0).select("doc_id", "shingles")
    return (
        cand.hint("merge")
        .join(
            sig.select(
                F.col("doc_id").alias("doc_a"),
                F.col("shingles").alias("sh_a"),
            ),
            "doc_a",
        )
        .hint("merge")
        .join(
            sig.select(
                F.col("doc_id").alias("doc_b"),
                F.col("shingles").alias("sh_b"),
            ),
            "doc_b",
        )
    )


def _jaccard_verify(pairs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) for the pairs passing the threshold —
    |A∪B| = |A|+|B|−|A∩B| for distinct arrays: one hash-set pass per
    pair instead of two (array_union was ~half the verify cost)."""
    with_inter = pairs.withColumn(
        "inter", F.size(F.array_intersect("sh_a", "sh_b"))
    )
    jac = F.col("inter") / (F.size("sh_a") + F.size("sh_b") - F.col("inter"))
    return (
        with_inter.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def dedup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs via band-bucket equi-join (the shuffle key is
    the bucket — at 100 TB this is the only join that runs, never the
    n² cross), verified with exact Jaccard over distinct shingles.
    The bucket join moves ids only; shingle arrays attach once at the
    verify (_attach_shingle_sets).
    """
    buckets = _lsh_band_buckets(spark, sf_dir)
    left = buckets.alias("l")
    right = buckets.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _jaccard_verify(_attach_shingle_sets(cand, buckets))


# ---------------------------------------------------------------------------
# Hot-bucket-safe variant: grid-decomposed pair generation. The plain
# band self-join shuffles on (band_id, key), so a bucket of H docs
# (boilerplate duplicated site-wide, a template page, an empty-doc
# cluster) funnels all H²/2 candidate verifies through ONE task. The
# grid splits each bucket's pair triangle into B×B cells: docs get an
# in-bucket index (one window sort, O(H log H) — rows, not pairs),
# the left side replicates each doc to its row of cells, the right
# side to its column, and the join key becomes (band, key, cell).
# Per-task work is bounded by B² verifies regardless of bucket size;
# replication factor is ceil(H/B) per hot-bucket row — the standard
# triangle-tiling trade (same shape as dedup_embedding_cosine's grid).
# Pair SEMANTICS are identical, so the same DuckDB oracle certifies
# both variants. B here is sized for the local fixture; production
# tunes B so B² verifies ≈ one task's budget (e.g. 1024).
# ---------------------------------------------------------------------------

LSH_GRID_BLOCK = 64


def dedup_lsh_pairs_grid(
    spark: SparkSession,
    sf_dir: str,
    shingled: DataFrame | None = None,
    buckets: DataFrame | None = None,
    scratch: list | None = None,
) -> DataFrame:
    # ``buckets``: a prebuilt (and persisted) _lsh_band_buckets table
    # — the incremental capstone derives each corpus slice's signature
    # store ONCE and feeds both its internal pair join and the cross
    # probe from it, instead of re-running scan→shingle→minhash per
    # consumer. ``scratch`` collects frames THIS call persists so a
    # staged caller can release exactly this lane's state.
    from finmapreduce_spark.operators.pairgrid import grid_self_pairs

    if buckets is None:
        buckets = _lsh_band_buckets(
            spark, sf_dir, shingled=shingled, scratch=scratch
        )

    # The tiler moves bare ids; shingle arrays attach once at the
    # verify (guide §2.3/§8 — they no longer ride the in-bucket index
    # window, the two replicated explode sides, the cell sort-merge
    # sorts, or the candidate dedup exchange).
    cand = grid_self_pairs(
        buckets.select("doc_id", "band_id", "key"),
        ["band_id", "key"],
        "doc_id",
        [],
        block=LSH_GRID_BLOCK,
        scratch=scratch,
    ).select(
        F.col("doc_id_a").alias("doc_a"),
        F.col("doc_id_b").alias("doc_b"),
    )
    return _jaccard_verify(_attach_shingle_sets(cand, buckets))


DEDUP_LSH_ORACLE = f"""
WITH sig AS (
  SELECT doc_id, shingles, {_MINHASH_SQL_COLS} FROM ({_SHINGLES_SQL})
), buckets AS (
  SELECT doc_id, shingles, 0 AS band_id, {_BAND0} AS key FROM sig
  UNION ALL
  SELECT doc_id, shingles, 1 AS band_id, {_BAND1} AS key FROM sig
), cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM buckets l JOIN buckets r
    ON l.band_id = r.band_id AND l.key = r.key AND l.doc_id < r.doc_id
), verified AS (
  SELECT c.doc_a, c.doc_b,
         round(len(list_intersect(a.shingles, b.shingles))
               / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
  FROM cand c
  JOIN sig a ON a.doc_id = c.doc_a
  JOIN sig b ON b.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# SimHash: 16-bit signature; bit j is the majority vote of md5-nibble-j
# high bits across the doc's tokens. Narrow map, no shuffle.
# ---------------------------------------------------------------------------

SIMHASH_BITS = 16
_HIGH = ("8", "9", "a", "b", "c", "d", "e", "f")


def _with_hash_windows(df, hashes_col, n_bits, prefix="__hw"):
    """Decode the first ``n_bits // 8`` 8-hex-char windows of every
    hash in the ``hashes_col`` array into unsigned 32-bit integers,
    materialized as ``{prefix}{g}`` long-array columns — ONE decode
    per hash, after which every per-bit vote is an integer bit test
    instead of a per-pass substring + string compare.

    The transform lambda comes from a factory so it stays
    ONE-parameter: ``lambda h, start=start`` would have arity 2 and
    F.transform would bind ``start`` to the ARRAY INDEX (the same
    trap the vote filters document below)."""

    def _win_fn(start):
        return lambda h: F.conv(F.substring(h, start, 8), 16, 10).cast(
            "long"
        )

    for g in range(n_bits // 8):
        df = df.withColumn(
            f"{prefix}{g}", F.transform(hashes_col, _win_fn(1 + 8 * g))
        )
    return df


def _nibble_vote_count(window_col, bitpos):
    """Count of hashes whose decoded window has bit ``bitpos`` set —
    bit-identical to counting hex chars >= '8' at the corresponding
    position (hex char o of a window is bits [4*(7-o), 4*(7-o)+3], so
    its high nibble bit is bit 31-4*o), but the pass is an
    allocation-free long aggregate instead of F.size(F.filter(...)),
    which materializes a filtered copy of the array per bit."""
    return F.aggregate(
        F.col(window_col),
        F.lit(0).cast("long"),
        lambda acc, v: acc + F.shiftright(v, bitpos).bitwiseAND(F.lit(1)),
    )


def _packed_vote_counts(df, n_bits, prefix="__hw", out_prefix="__vc"):
    """All eight vote counts of each decoded 8-bit window in ONE array
    traversal (round-16, VERDICT item 5): a STRUCT(c0..c7) accumulator
    sums every vote bit of the window per element, materialized as
    ``{out_prefix}{g}`` — was one aggregate pass PER BIT (8 traversals
    per window; 32 for the pair signature). Exact 64-bit counters, so
    there is no packed-lane overflow cap on document length. Field
    ``c{o}`` equals _nibble_vote_count({prefix}{g}, 31-4*o)
    bit-identically: bit o of a window is the high bit of hex char o,
    i.e. bit 31-4*o of the decoded integer. The struct columns are
    materialized via withColumn so the 8 field reads share one
    evaluation (CollapseProject keeps multiply-referenced non-cheap
    expressions in their own Project — the __words/__tk lesson)."""
    zero = F.struct(
        *[F.lit(0).cast("long").alias(f"c{o}") for o in range(8)]
    )
    for g in range(n_bits // 8):

        def _step(acc, v):
            return F.struct(
                *[
                    (
                        acc[f"c{o}"]
                        + F.shiftright(v, 31 - 4 * o).bitwiseAND(F.lit(1))
                    ).alias(f"c{o}")
                    for o in range(8)
                ]
            )

        df = df.withColumn(
            f"{out_prefix}{g}",
            F.aggregate(F.col(f"{prefix}{g}"), zero, _step),
        )
    return df


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finmapreduce_spark.operators.parallelism import scan_floor

    # guarded scan-parallelism floor: the signature build is pure
    # per-doc CPU on what is otherwise a single scan split locally
    docs = scan_floor(
        _docs(spark, sf_dir).select("doc_id", "text"), "doc_id"
    )
    # md5 MATERIALIZED once per word before the 16 per-bit vote
    # passes — with the inline ``md5(w)`` inside the filter lambda it
    # was re-evaluated per (bit, element): 16× the hash work (the
    # same hoist the 32-bit twin _simhash_pair_bands documents at
    # 15.6 s → 3 s; this older lane never got it). The votes then run
    # on integer windows (_with_hash_windows): each hash's first 16
    # hex chars decode to two 32-bit ints ONCE, and bit j's count is
    # an allocation-free aggregate testing one integer bit — the same
    # majority votes as the oracle's per-char high-nibble test.
    docs = docs.withColumn(
        "__hashes",
        F.transform(
            F.array_distinct(_words(F.col("text"))), lambda w: F.md5(w)
        ),
    )
    docs = _with_hash_windows(docs, "__hashes", SIMHASH_BITS)
    docs = _packed_vote_counts(docs, SIMHASH_BITS)
    n = F.size(F.col("__hashes"))
    bits = []
    for j in range(1, SIMHASH_BITS + 1):
        g, o = (j - 1) // 8, (j - 1) % 8
        cnt = F.col(f"__vc{g}")[f"c{o}"]
        bits.append(F.when(cnt * 2 > n, F.lit("1")).otherwise(F.lit("0")))
    sig = F.concat(*bits)
    out = docs.select("doc_id", sig.alias("simhash"))
    clusters = out.groupBy("simhash").agg(
        F.count("*").alias("cluster_size"), F.min("doc_id").alias("keeper_doc_id")
    )
    return out.join(clusters, "simhash").select(
        "doc_id", "simhash", "cluster_size", "keeper_doc_id"
    )


_SIMHASH_BIT_SQL = " || ".join(
    f"(CASE WHEN 2 * len(list_filter(words, w -> substring(md5(w), {j}, 1) IN "
    f"('8','9','a','b','c','d','e','f'))) > len(words) THEN '1' ELSE '0' END)"
    for j in range(1, SIMHASH_BITS + 1)
)

DEDUP_SIMHASH_ORACLE = f"""
WITH sig AS (
  SELECT doc_id, {_SIMHASH_BIT_SQL} AS simhash
  FROM (SELECT doc_id,
               list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS words
        FROM documents)
), clusters AS (
  SELECT simhash, count(*) AS cluster_size, min(doc_id) AS keeper_doc_id
  FROM sig GROUP BY simhash
)
SELECT s.doc_id, s.simhash, c.cluster_size, c.keeper_doc_id
FROM sig s JOIN clusters c USING (simhash)
"""


# ---------------------------------------------------------------------------
# SimHash Hamming-banded near-dup pairs (Manku/Jain/Das Sarma,
# WWW'07 — the web-scale simhash dedup design; reference corpus ops in
# src/utils/document_processing.py motivate the family, the banding is
# the Spark-scale completion). A 32-bit simhash is split into 4 bands
# of 8 bits; by pigeonhole, ANY pair within Hamming distance 3 agrees
# exactly on at least one band, so the band equi-join has RECALL 1.0
# for the verify threshold — unlike MinHash-LSH this banding is exact,
# not probabilistic. Candidates are verified with bit_count(xor),
# a single integer op per pair.
#
# Scale: the only join is the band-bucket equi-join — shuffle key =
# (band index, band value); candidate volume is sum of per-bucket
# squares, bounded by signature balance, never the n² cross. At 100 TB
# use a 64-bit simhash with 4×16-bit bands (65k buckets/band) — same
# plan, wider type; 32 bits keeps the DuckDB oracle's integer
# construction readable here.
# ---------------------------------------------------------------------------

SIMHASH_PAIR_BITS = 32
SIMHASH_PAIR_BANDS = 4  # 8 bits each → Hamming ≤ 3 pairs share a band exactly
SIMHASH_HAMMING_MAX = 3
_SIMHASH_BAND_W = SIMHASH_PAIR_BITS // SIMHASH_PAIR_BANDS
# pigeonhole precondition for the recall-1.0 guarantee: a pair within
# the Hamming budget must have at least one UNTOUCHED band
assert SIMHASH_HAMMING_MAX <= SIMHASH_PAIR_BANDS - 1, (
    "banded simhash recall guarantee requires hamming_max < n_bands"
)
assert SIMHASH_PAIR_BITS % SIMHASH_PAIR_BANDS == 0


def _simhash_pair_bands(
    spark: SparkSession,
    sf_dir: str,
    shingled: DataFrame | None = None,
    scratch: list | None = None,
) -> DataFrame:
    # ``shingled``: an already-built AND PERSISTED with_shingles frame
    # to reuse (master keep-list lane sharing). Persisted matters
    # here: the NULL-text filter below then reads the cache instead
    # of re-deriving the projection (see the pushdown note).
    # Features are the distinct 3-word SHINGLES, not words: on a
    # corpus drawn from a shared vocabulary, word-level majority votes
    # correlate across unrelated docs (measured 302 distinct sigs per
    # 500 docs → ~28% of ALL pairs pass Hamming ≤ 3); shingles are
    # near-unique per doc (496/500 distinct sigs) so only true near-dups
    # land close.
    # md5 is MATERIALIZED once per shingle before the 32 per-bit
    # passes — as with _shingles_of, an inline md5 inside the filter
    # lambdas would be re-evaluated per (bit, element), turning the
    # signature into 32× the hash work (measured 15.6 s → 3 s at
    # sf0.1 from this hoist alone).
    # NULL-text docs are EXCLUDED (shingles is NULL iff text is
    # NULL): their majority votes would all see an empty filtered
    # set, assigning every failed-parse doc the same sim=0 — one
    # colliding band bucket and a quadratic pair blowup over docs
    # whose content is unknown. The filter runs on the BASE text
    # column, not the derived shingles column: a predicate on the
    # derived column gets pushed through the projection with the
    # whole split+shingle expression inlined, evaluating the
    # pipeline twice per row (measured 3.6 s → 11.5 s at sf0.1).
    sh = (
        shingled.filter(F.col("text").isNotNull())
        if shingled is not None
        else with_shingles(_docs(spark, sf_dir).filter(F.col("text").isNotNull()))
    )
    base = (
        sh.withColumn("hashes", F.transform("shingles", lambda s: F.md5(s)))
        .select("doc_id", "hashes")
        .withColumn("n", F.size("hashes"))
    )
    # bit j (MSB-first) = majority vote of the j-th md5 nibble's high
    # bit over the doc's shingles — same vote rule as dedup_simhash,
    # widened to 32 bits and packed into a BIGINT so the verify is
    # one xor+popcount instead of 32 char compares. The 32 vote
    # passes run on integer windows (_with_hash_windows): each hash's
    # 32 hex chars decode to four 32-bit ints ONCE, and each count is
    # an allocation-free aggregate testing one integer bit — the
    # F.size(F.filter(substring >= '8')) form materialized a filtered
    # string-array copy per (bit, doc).
    base = _with_hash_windows(base, "hashes", SIMHASH_PAIR_BITS)
    base = _packed_vote_counts(base, SIMHASH_PAIR_BITS)
    terms = []
    for j in range(1, SIMHASH_PAIR_BITS + 1):
        g, o = (j - 1) // 8, (j - 1) % 8
        cnt = F.col(f"__vc{g}")[f"c{o}"]
        terms.append(
            F.when(
                cnt * 2 > F.col("n"), F.lit(1 << (SIMHASH_PAIR_BITS - j))
            ).otherwise(F.lit(0))
        )
    sim = reduce(lambda a, b: a + b, terms).cast("long")
    sig = base.select("doc_id", sim.alias("sim"))
    band_w = _SIMHASH_BAND_W
    # persist: BOTH sides of the self-join read this table — without
    # the cache the whole scan→shingle→md5→vote pipeline runs once
    # per side (measured 6.2 s → 2.2 s at sf0.1). On a cluster this
    # is the signature table you'd write to storage anyway. Lifecycle
    # is caller-owned (same contract as the trainers' feature
    # tables): the cache lives behind the returned lazy plan, so the
    # caller clears it via spark.catalog.clearCache() when done —
    # bench.py does after every query.
    bands = (
        sig.select(
            "doc_id",
            "sim",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("k"),
                            F.shiftright("sim", band_w * k)
                            .bitwiseAND(F.lit((1 << band_w) - 1))
                            .alias("bv"),
                        )
                        for k in range(SIMHASH_PAIR_BANDS)
                    ]
                )
            ).alias("b"),
        )
        .select("doc_id", "sim", F.col("b.k").alias("k"), F.col("b.bv").alias("bv"))
        .persist()
    )
    if scratch is not None:
        scratch.append(bands)
    return bands


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = _simhash_pair_bands(spark, sf_dir)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sim").alias("sim_a"),
            F.col("b.sim").alias("sim_b"),
        )
        .distinct()  # a pair matching in >1 band must count once
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("long")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


def dedup_simhash_pairs_grid(
    spark: SparkSession,
    sf_dir: str,
    shingled: DataFrame | None = None,
    bands: DataFrame | None = None,
    scratch: list | None = None,
) -> DataFrame:
    """Hot-bucket-safe twin of ``dedup_simhash_pairs``: the (k, bv)
    band self-join goes through the shared grid tiler
    (operators/pairgrid.py) so a band value shared by a boilerplate
    cluster cannot funnel its pair product through one task. Same
    pairs, same oracle. ``bands``/``scratch``: prebuilt signature
    store / persisted-frame collector (see dedup_lsh_pairs_grid)."""
    from finmapreduce_spark.operators.pairgrid import grid_self_pairs

    if bands is None:
        bands = _simhash_pair_bands(
            spark, sf_dir, shingled=shingled, scratch=scratch
        )
    cand = grid_self_pairs(
        bands, ["k", "bv"], "doc_id", ["sim"], scratch=scratch
    ).select(
        F.col("doc_id_a").alias("doc_a"),
        F.col("doc_id_b").alias("doc_b"),
        F.col("sim_a"),
        F.col("sim_b"),
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("long")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


_SIMHASH_PAIR_SIG_SQL = " + ".join(
    f"(CASE WHEN 2 * len(list_filter(hashes, h -> substring(h, {j}, 1) IN "
    f"('8','9','a','b','c','d','e','f'))) > n THEN {1 << (SIMHASH_PAIR_BITS - j)} "
    f"ELSE 0 END)"
    for j in range(1, SIMHASH_PAIR_BITS + 1)
)

DEDUP_SIMHASH_PAIRS_ORACLE = f"""
WITH base AS (
  SELECT doc_id, list_transform(shingles, s -> md5(s)) AS hashes
  FROM ({_SHINGLES_SQL}) WHERE shingles IS NOT NULL
), sig AS (
  SELECT doc_id, CAST({_SIMHASH_PAIR_SIG_SQL} AS BIGINT) AS sim
  FROM (SELECT doc_id, hashes, len(hashes) AS n FROM base)
), bands AS (
  SELECT doc_id, sim, k,
         (sim >> ({_SIMHASH_BAND_W} * k)) & {(1 << _SIMHASH_BAND_W) - 1} AS bv
  FROM sig CROSS JOIN (SELECT unnest(range({SIMHASH_PAIR_BANDS})) AS k)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.sim AS sim_a, b.sim AS sim_b
  FROM bands a JOIN bands b
    ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {SIMHASH_HAMMING_MAX}
"""


# ---------------------------------------------------------------------------
# Blocked n-gram Jaccard: candidate pairs share (lang, length-bucket);
# verified with shingle Jaccard. The blocking key bounds the pair count
# (the scale path when LSH recall isn't needed).
# ---------------------------------------------------------------------------

LEN_BUCKET = 100
NGRAM_THRESHOLD = 0.12


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        with_shingles(_docs(spark, sf_dir))
        .withColumn("len_bucket", F.floor(F.col("n_chars") / LEN_BUCKET))
        .select("doc_id", "lang", "len_bucket", "shingles")
    )
    a, b = docs.alias("a"), docs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.len_bucket") == F.col("b.len_bucket"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    # same |A|+|B|−|A∩B| identity as the LSH verify — one set pass/pair
    scored = pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.lang").alias("lang"),
        F.size(F.array_intersect("a.shingles", "b.shingles")).alias("inter"),
        (F.size("a.shingles") + F.size("b.shingles")).alias("sz"),
    )
    return (
        scored.withColumn(
            "jaccard", F.round(F.col("inter") / (F.col("sz") - F.col("inter")), 6)
        )
        .filter(F.col("jaccard") >= NGRAM_THRESHOLD)
        .select("doc_a", "doc_b", "lang", "jaccard")
    )


DEDUP_NGRAM_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, lang, CAST(floor(n_chars / {LEN_BUCKET}) AS BIGINT) AS len_bucket, shingles
  FROM ({_SHINGLES_SQL})
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
       round(len(list_intersect(a.shingles, b.shingles))
             / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
FROM sh a JOIN sh b
  ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
WHERE round(len(list_intersect(a.shingles, b.shingles))
            / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) >= {NGRAM_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: blocked by label (the candidate cluster),
# exact sequential-fold dot product — bitwise identical across engines.
# ---------------------------------------------------------------------------

COSINE_THRESHOLD = 0.35


def _dot(a, b):
    """Sequential double fold — IEEE-deterministic, matches DuckDB's
    list_inner_product on DOUBLE[] element order exactly."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def emb_table(spark, sf_dir):
    """Vector table with L2 norms — the ONE guarded embeddings read
    every cosine consumer (ANN family, k-means, SemDeDup, embedding
    near-dup) shares. A vector participates only if it is VALID:
    non-NULL, no NULL elements (DuckDB's list_inner_product THROWS on
    them; Spark's fold NULL-propagates), and finite positive norm
    (cosine is undefined for the zero vector — under ANSI the norm
    division throws DIVIDE_BY_ZERO — and a NaN/Inf element passes a
    bare ``norm > 0`` test because BOTH engines order NaN above
    every number). Validity also requires the corpus's MODAL
    dimension: a ragged/truncated vector makes every pairwise product
    ill-defined — DuckDB's list_inner_product THROWS on mismatched
    lengths while Spark's zip_with silently NULL-pads — so off-dim
    rows are excluded, as an index's declared dim would do at write
    time (modal dim with count-desc/dim-asc tiebreak is deterministic
    and costs one tiny broadcast). EMB_SQL is the DuckDB twin with
    the identical predicates (pinned by the adversarial-corpus
    tests)."""
    raw = read_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
        & ~F.exists("embedding", lambda x: x.isNull())
    )
    modal_dim = (
        raw.groupBy(F.size("embedding").alias("__dim"))
        .agg(F.count("*").alias("__c"))
        .orderBy(F.desc("__c"), F.asc("__dim"))
        .limit(1)
        .select("__dim")
    )
    return (
        raw.join(
            F.broadcast(modal_dim),
            F.size(F.col("embedding")) == F.col("__dim"),
        )
        .select("vec_id", "label", F.col("embedding").alias("v"))
        .withColumn("norm", F.sqrt(_dot(F.col("v"), F.col("v"))))
        .filter(
            (F.col("norm") > 0)
            & ~F.isnan("norm")
            & (F.col("norm") != F.lit(float("inf")))
        )
    )


EMB_SQL = """
  SELECT * FROM (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
    FROM embeddings
    WHERE embedding IS NOT NULL
      AND len(list_filter(embedding, x -> x IS NULL)) = 0
      AND len(embedding) = (
        -- modal dim over the SAME row set Spark's emb_table uses:
        -- NULL-element vectors are excluded BEFORE the mode election,
        -- else a cluster of poisoned vectors at an off-modal length
        -- could elect a different dim per engine.
        SELECT len(embedding) AS d FROM embeddings
        WHERE embedding IS NOT NULL
          AND len(list_filter(embedding, x -> x IS NULL)) = 0
        GROUP BY 1 ORDER BY count(*) DESC, d LIMIT 1)
  ) WHERE norm > 0 AND isfinite(norm)
"""


# Bounded-bucket target for the exact pair join: a label with more
# vectors than this is grid-decomposed into hash chunks so no single
# join group is ever larger than ~2×COSINE_CHUNK rows.
COSINE_CHUNK = 512


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All same-label pairs with cosine ≥ θ — EXACT semantics (the
    DuckDB oracle is the all-pairs-within-label join), so candidate
    generation cannot be lossy LSH. The scale hazard is a HOT label:
    naive label blocking makes one join group quadratic in the
    label's size. Fix: grid decomposition. Each label with n vectors
    splits into s = ⌈n/COSINE_CHUNK⌉ hash chunks; every chunk pair
    (i ≤ j) is an independent join task keyed (label, i, j), so the
    pair join key is a bounded bucket (≤ ~2×COSINE_CHUNK rows) no
    matter how hot the label. Replication cost is the inherent
    exact-all-pairs data movement (n·s rows per label); the
    sub-quadratic path is the ANN family in queries/similarity.py,
    which trades exactness for probe-only search. For labels with
    n ≤ COSINE_CHUNK (s = 1) the plan degenerates to the plain
    label-blocked join. Pair values are orientation-independent
    (elementwise IEEE products commute; the fold order is the element
    order on both engines), so chunk assignment cannot perturb the
    rounded cosine."""
    emb = emb_table(spark, sf_dir)
    splits = (
        emb.groupBy("label")
        .agg(F.count("*").alias("n"))
        .select(
            "label",
            F.greatest(
                F.lit(1), F.ceil(F.col("n") / F.lit(COSINE_CHUNK))
            ).cast("int").alias("nsplits"),
        )
    )
    chunked = emb.join(F.broadcast(splits), "label").withColumn(
        "chunk", F.pmod(F.xxhash64("vec_id"), F.col("nsplits")).cast("int")
    )
    a_side = chunked.withColumn(
        "j", F.explode(F.sequence(F.col("chunk"), F.col("nsplits") - 1))
    ).select(
        "label",
        F.col("chunk").alias("i"),
        "j",
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("va"),
        F.col("norm").alias("na"),
    )
    b_side = chunked.withColumn(
        "i", F.explode(F.sequence(F.lit(0), F.col("chunk")))
    ).select(
        "label",
        "i",
        F.col("chunk").alias("j"),
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("vb"),
        F.col("norm").alias("nb"),
    )
    pairs = a_side.join(b_side, ["label", "i", "j"]).filter(
        # same-chunk task: order within; cross-chunk task: every
        # unordered pair appears exactly once already
        (F.col("i") < F.col("j")) | (F.col("a_id") < F.col("b_id"))
    )
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.select(
            F.least("a_id", "b_id").alias("vec_a"),
            F.greatest("a_id", "b_id").alias("vec_b"),
            "label",
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
    )


DEDUP_COSINE_ORACLE = f"""
WITH v AS ({EMB_SQL})
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
       round(list_inner_product(a.v, b.v) / (a.norm * b.norm), 6) AS cosine
FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_inner_product(a.v, b.v) / (a.norm * b.norm), 6) >= {COSINE_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Cluster + canonicalize: LSH pairs → connected components → keep-one.
# The "full dedup" a training pipeline actually runs: near-dup PAIRS
# are not actionable until transitively closed into clusters with one
# canonical survivor each.
# ---------------------------------------------------------------------------

MAX_CC_ITERS = 20

# Flag (also settable via FMR_CC_ALGORITHM): "star" (default) is the
# alternating large-star/small-star algorithm (Kiveris et al.,
# "Connected Components in MapReduce and Beyond", SoCC'14) —
# O(log n) rounds regardless of graph diameter, and measured faster
# than minlabel even on the shallow near-dup graphs (SCALE.md: its
# convergence probe is two scalar aggs vs a join+count per round).
# "minlabel" (iterations = diameter) is kept as the equivalence
# reference; both reach the identical unique fixpoint.
CC_ALGORITHMS = ("star", "minlabel")
DEFAULT_CC_ALGORITHM = "star"


def _cc_minlabel(edges: DataFrame) -> DataFrame:
    """Min-label propagation: label := min(label, neighbors' labels)
    per iteration (one join+agg); driver sees only the converged flag.
    Deterministic: the fixpoint is unique regardless of order."""
    # Checkpoint (not persist): the label table's plan nests one
    # join deeper per iteration; past ~15 iterations even FORMATTING
    # the plan (codegen tree strings) blows the heap. Checkpointing
    # cuts lineage to a leaf each round; iter_checkpoint upgrades to
    # reliable checkpoint(dir) when FMR_CHECKPOINT_DIR is set (a
    # cluster run must survive executor loss mid-loop).
    labels = iter_checkpoint(
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )
    for _ in range(MAX_CC_ITERS):
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(edges.doc_a)
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = iter_checkpoint(
            labels.join(neighbor_min, labels.doc_id == neighbor_min.doc_a, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        prev = labels
        labels = new_labels
        # The `changed` count above was the last reader of the old
        # label snapshot; free its checkpoint blocks synchronously so
        # a long run holds one label table, not one per iteration.
        release_iter_checkpoint(prev)
        if changed == 0:
            return labels
    raise RuntimeError(f"components did not converge in {MAX_CC_ITERS} iters")


def _cc_star(edges: DataFrame) -> DataFrame:
    """Alternating large-star/small-star connected components.

    Each round is two map+agg+join passes over the EDGE set (vs
    minlabel's pass over the label table): large-star hangs every
    larger neighbor of u off min(N(u) ∪ {u}); small-star does the same
    for the not-larger neighbors. The edge set converges to stars
    rooted at component minima in O(log n) rounds INDEPENDENT of
    diameter — a long chain collapses geometrically where minlabel
    walks it one hop per round. Per round it shuffles ~2× more than a
    minlabel round, so it wins only past the diameter crossover
    (SCALE.md measures both).
    """

    def large_star(e: DataFrame) -> DataFrame:
        # symmetric neighbor view; m = min over {u} ∪ N(u)
        sym = e.union(e.select(F.col("doc_b").alias("doc_a"),
                               F.col("doc_a").alias("doc_b")))
        m = sym.groupBy("doc_a").agg(
            F.least(F.min("doc_b"), F.first("doc_a")).alias("m")
        )
        return (
            sym.join(m, "doc_a")
            .filter(F.col("doc_b") > F.col("doc_a"))
            .select(F.col("doc_b").alias("doc_a"), F.col("m").alias("doc_b"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient edges toward the smaller endpoint: u > v
        directed = e.select(
            F.greatest("doc_a", "doc_b").alias("doc_a"),
            F.least("doc_a", "doc_b").alias("doc_b"),
        ).filter(F.col("doc_a") != F.col("doc_b"))
        m = directed.groupBy("doc_a").agg(
            F.min("doc_b").alias("m")
        )
        hang = (
            directed.join(m, "doc_a")
            .filter(F.col("doc_b") != F.col("m"))
            .select(F.col("doc_b").alias("doc_a"), F.col("m").alias("doc_b"))
        )
        keep = m.select(F.col("doc_a"), F.col("m").alias("doc_b"))
        return hang.union(keep).distinct()

    # Checkpoint (not persist): each round's plan embeds the
    # previous round's TWICE (the symmetric-union self-reference), so
    # lineage grows ~4^rounds and Catalyst's analysis itself blows up
    # by round ~6. Checkpointing materializes the edge set and cuts
    # the logical plan back to a leaf every round. iter_checkpoint
    # uses local blocks by default; FMR_CHECKPOINT_DIR switches to
    # reliable checkpoint(dir) so an hours-long cluster CC run
    # survives executor loss (local[] has none to survive).
    cur = iter_checkpoint(
        edges.filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.greatest("doc_a", "doc_b").alias("doc_a"),
            F.least("doc_a", "doc_b").alias("doc_b"),
        )
        .distinct()
    )
    def _sig(e: DataFrame):
        # count + order-independent hash XOR (two scalar aggs, no
        # data to the driver; xor can't overflow under ANSI mode)
        return e.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("doc_a", "doc_b")).alias("h"),
        ).first()

    # Converged when the directed edge set is unchanged. The previous
    # round's nxt-signature IS this round's cur-signature (cur is the
    # checkpointed nxt), so carry it over instead of re-aggregating —
    # one scalar-agg job per round instead of two.
    sig_old = _sig(cur)

    for _ in range(MAX_CC_ITERS):
        prev = cur
        nxt = iter_checkpoint(small_star(large_star(cur)))
        sig_new = _sig(nxt)
        done = (sig_old["n"] == sig_new["n"]) and (sig_old["h"] == sig_new["h"])
        cur = nxt
        sig_old = sig_new
        # Drop the previous round's checkpoint blocks NOW: rebinding
        # `cur` orphans the old snapshot, and the 100× study (round
        # 14) showed ~15 retained rounds of a multi-GB edge set fill
        # an 80 GB scratch volume (ENOSPC). The blocking by-id
        # release is synchronous — the round-14 per-round
        # gc.collect() only made removal *eligible* for the async
        # ContextCleaner, which back-to-back bench trials proved can
        # lag arbitrarily. Safe here: nxt is eagerly materialized, so
        # nothing can re-read prev's truncated lineage.
        release_iter_checkpoint(prev)
        if done:
            break
    else:
        raise RuntimeError(f"components did not converge in {MAX_CC_ITERS} iters")
    # converged stars: doc_a hangs off root doc_b; roots label themselves.
    # Checkpoint the node list NOW, while the caller's edge input
    # is still persisted — otherwise the returned plan re-derives the
    # node ids from the raw edge pipeline (for the LSH graph that
    # means re-running shingling+minhash+band join at collect time).
    nodes = iter_checkpoint(
        edges.select(F.col("doc_a").alias("doc_id"))
        .union(edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    out = (
        nodes.join(cur, nodes.doc_id == cur.doc_a, "left")
        .select("doc_id", F.coalesce("doc_b", "doc_id").alias("label"))
    )
    return out


def connected_components(edges: DataFrame, algorithm: str | None = None) -> DataFrame:
    """(doc_a, doc_b) edge list → (doc_id, label) with label = min
    doc_id of the component. ``algorithm``: "star" (the default —
    O(log n) rounds independent of diameter) or "minlabel" (the
    equivalence reference); FMR_CC_ALGORITHM overrides when the arg
    is None."""
    import os

    algorithm = algorithm or os.environ.get(
        "FMR_CC_ALGORITHM", DEFAULT_CC_ALGORITHM
    )
    if algorithm not in CC_ALGORITHMS:
        raise ValueError(f"unknown CC algorithm {algorithm!r}; known: {CC_ALGORITHMS}")
    if algorithm == "star":
        # The star path needs no up-front symmetric closure: its
        # initial normalization (greatest/least + distinct) and its
        # node list are direction-invariant, and each round
        # re-symmetrizes its own current edge set inside large_star.
        # Persist the RAW edge input instead (round-16, guide §2.4):
        # half the cached rows, and — because a union's two branches
        # each evaluate the input subtree — the symmetric-closure
        # build used to run the caller's (often expensive) pair
        # pipeline once per branch before anything was cached.
        edges = edges.persist()
        try:
            return _cc_star(edges)
        finally:
            edges.unpersist()
    # minlabel propagates along directed doc_a -> doc_b rows, so it
    # genuinely needs both directions materialized.
    sym = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).persist()
    try:
        return _cc_minlabel(sym)
    finally:
        sym.unpersist()


def dedup_cluster_canonical(
    spark: SparkSession, sf_dir: str, algorithm: str | None = None
) -> DataFrame:
    """Connected components over the verified near-dup pairs;
    canonical = min doc_id per component. Default algorithm is the
    O(log n)-round large-star/small-star ("star"); "minlabel"
    (diameter-bound label propagation) is selectable via the arg or
    FMR_CC_ALGORITHM as the equivalence reference. Both reach the
    same unique fixpoint (equivalence-tested).
    """
    # Edge source: the grid pair builder — pair-identical to the plain
    # band join (same oracle certifies both) but hot-bucket-safe, so a
    # boilerplate cluster inflates edge VOLUME without funneling the
    # pair build through one task (SCALE.md hot-band-bucket stress).
    pairs = dedup_lsh_pairs_grid(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs, algorithm)
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).alias("is_canonical"),
    )


DEDUP_CLUSTER_ORACLE = f"""
WITH RECURSIVE pairs AS ({DEDUP_LSH_ORACLE}),
edges AS (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
walk(doc_id, label) AS (
  SELECT doc_a, doc_a FROM edges
  UNION
  SELECT e.doc_b, w.label FROM walk w JOIN edges e ON e.doc_a = w.doc_id
)
SELECT doc_id, min(label) AS cluster_id,
       doc_id = min(label) AS is_canonical
FROM walk GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# The end-to-end keep-list: corpus minus exact-dup losers minus
# near-dup cluster non-canonicals — what actually ships to training.
# Both removals are left_anti joins (no row widening, broadcastable
# removal sets — the removal side is |dups|, far smaller than corpus).
# ---------------------------------------------------------------------------

def _content_hash_keepers(docs: DataFrame):
    """(hashed, keepers): the ONE definition of the exact-dup
    canonicalization (md5 of trimmed lowercase text, min-id keeper) —
    shared by dedup_keep_list and dedup_master_keep_list so the two
    keep decisions cannot use divergent exact-dup semantics
    (round-10 review). SQL twin: _EXACT_HASH_CTES."""
    hashed = docs.select(
        "doc_id", F.md5(F.trim(F.lower("text"))).alias("content_hash")
    )
    keepers = hashed.groupBy("content_hash").agg(
        F.min("doc_id").alias("keeper")
    )
    return hashed, keepers


_EXACT_HASH_CTES = """hashed AS (
  SELECT doc_id, md5(trim(lower(text))) AS content_hash FROM documents
),
keepers AS (
  SELECT content_hash, min(doc_id) AS keeper FROM hashed GROUP BY 1
)"""


def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    hashed, keepers = _content_hash_keepers(docs)
    exact_losers = (
        hashed.join(keepers, "content_hash")
        .filter(F.col("doc_id") != F.col("keeper"))
        .select("doc_id")
    )
    near_losers = (
        dedup_cluster_canonical(spark, sf_dir)
        .filter(~F.col("is_canonical"))
        .select("doc_id")
    )
    return (
        docs.select("doc_id", "lang")
        .join(exact_losers, "doc_id", "left_anti")
        .join(near_losers, "doc_id", "left_anti")
    )


DEDUP_KEEP_ORACLE = f"""
WITH clusters AS ({DEDUP_CLUSTER_ORACLE}),
{_EXACT_HASH_CTES},
exact_losers AS (
  SELECT doc_id FROM hashed JOIN keepers USING (content_hash)
  WHERE doc_id <> keeper
),
near_losers AS (
  SELECT doc_id FROM clusters WHERE NOT is_canonical
)
SELECT doc_id, lang FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM exact_losers)
  AND doc_id NOT IN (SELECT doc_id FROM near_losers)
"""



# ---------------------------------------------------------------------------
# Built-in path: spark.ml MinHashLSH (SURVEY §7 M4). Kept alongside the
# explicit band-join implementation above: ml.MinHashLSH brings
# OR-amplified banding + approxSimilarityJoin planning for free, at the
# cost of opaque hash coefficients (seeded, Spark-reproducible, but not
# expressible in the DuckDB oracle). The raw pair set is therefore not
# oracle-checkable — so the CATALOG entry (dedup_ml_minhash_lsh below)
# is the cross-certification REPORT over it, whose correct values ARE
# exactly derivable: every emitted pair must be a true exact-Jaccard>=θ
# pair with the exact set-Jaccard value (approxSimilarityJoin's
# distance on survivors is exact → zero false positives, zero value
# mismatches — theorems the report re-derives from data), and recall
# vs the exhaustive truth must clear a pinned floor.
# ---------------------------------------------------------------------------

def ml_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via ml.feature.MinHashLSH.approxSimilarityJoin:
    shingles -> binary CountVectorizer features -> 4 seeded hash
    tables -> candidate join -> EXACT Jaccard distance filter (the
    distance approxSimilarityJoin computes on survivors is exact, so
    precision is 1.0; only recall depends on the banding)."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    # NULL-text docs must never REACH the ML stages: the
    # CountVectorizerModel lambda NPEs on a NULL array and the
    # MinHashLSH hash UDF aborts on an all-zero vector — and because
    # both are opaque scala UDFs, a filter placed AFTER the transform
    # can end up physically evaluated after the hash projection
    # inside approxSimilarityJoin's plan (observed: the zero-entry
    # abort fires even when no zero row survives the filter). So the
    # guard runs BEFORE the model: coalesce NULL shingles to [] at
    # the expression level, then drop empties at the base table where
    # there is nothing beneath to reorder around.
    docs = (
        with_shingles(_docs(spark, sf_dir))
        .select(
            "doc_id",
            F.coalesce(
                F.col("shingles"), F.array().cast("array<string>")
            ).alias("shingles"),
        )
        .filter(F.size("shingles") > 0)
    )
    cv = CountVectorizer(
        inputCol="shingles", outputCol="features", binary=True, minDF=1.0
    )
    # persist is LOAD-BEARING, not just a perf cache: left lazy, the
    # self-join inside approxSimilarityJoin re-derives this plan and
    # the reordered physical form evaluates the LSH hash UDF where a
    # zero vector can still reach it (observed abort: "Must have at
    # least 1 non zero entry" with NO zero row in the filtered
    # result). Materializing pins the filtered row set. Lifecycle is
    # caller-owned (bench/compare clearCache per query).
    feat = cv.fit(docs).transform(docs).persist()
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=4, seed=42
    ).fit(feat)
    pairs = model.approxSimilarityJoin(
        feat, feat, 1.0 - JACCARD_THRESHOLD, distCol="jaccard_dist"
    )
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round(1 - F.col("jaccard_dist"), 6).alias("jaccard"),
        )
    )


ML_LSH_RECALL_FLOOR = 0.5  # 4 OR'd hash tables; guards a banding collapse


def dedup_ml_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-certification of the spark.ml MinHashLSH path against the
    exhaustive exact-Jaccard ground truth (VERDICT r10 #2 — this used
    to be the catalog's one rows-only entry; the report's correct
    values are fully oracle-derivable, ending that).

    One row: n_true (exhaustive count of unordered pairs with exact
    shingle-set Jaccard >= θ, via the same inverted-index join the
    recall gate uses — any J>0 pair shares a shingle, so it is
    exact), n_false_positives (ml pairs NOT in the truth set — 0 by
    the approxSimilarityJoin exact-distance theorem, re-derived from
    data here), n_jaccard_mismatches (ml pairs whose reported jaccard
    deviates from the exact set value — 0, same theorem), and
    recall_floor_met (ml hit rate over truth >= ML_LSH_RECALL_FLOOR;
    the exact recall is seeded-hash-dependent so only the pinned
    floor is certified). A broken ml lane (wrong threshold, NULL
    leakage, banding collapse) flips a theorem column and fails the
    driver's hash.

    Scale: the exhaustive truth side is the OFFLINE gate — at 100 TB
    it runs on a sampled slice (dedup_lsh_recall's argument); the ml
    path being certified is the part that runs on the full corpus."""
    ml = ml_minhash_pairs(spark, sf_dir)
    # persisted: feeds the inverted-index self-join AND the size map
    docs = with_shingles(_docs(spark, sf_dir)).persist()
    ex = docs.select("doc_id", F.explode("shingles").alias("s"))
    inter = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("i"))
    )
    sizes = docs.select("doc_id", F.size("shingles").alias("sz"))
    jac = F.col("i") / (F.col("sz_a") + F.col("sz_b") - F.col("i"))
    truth = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("sz", "sz_a")
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "sz", "sz_b"
            ),
            "doc_b",
        )
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("true_jaccard"))
    )
    both = truth.join(ml, ["doc_a", "doc_b"], "full_outer")
    is_true = F.col("true_jaccard").isNotNull()
    is_ml = F.col("jaccard").isNotNull()
    n_hits = F.count(F.when(is_true & is_ml, 1))
    n_true = F.count(F.when(is_true, 1))
    return both.agg(
        n_true.cast("long").alias("n_true"),
        F.count(F.when(is_ml & ~is_true, 1))
        .cast("long")
        .alias("n_false_positives"),
        F.count(
            F.when(
                is_true
                & is_ml
                & (F.abs(F.col("jaccard") - F.col("true_jaccard")) > 1e-6),
                1,
            )
        )
        .cast("long")
        .alias("n_jaccard_mismatches"),
        # n_true = 0 (a pair-free corpus) must read as floor MET, not
        # NULL from the 0/0 — the oracle emits constant TRUE.
        F.when(n_true > 0, n_hits / n_true >= ML_LSH_RECALL_FLOOR)
        .otherwise(F.lit(True))
        .alias("recall_floor_met"),
    )


DEDUP_ML_LSH_CERTIFY_ORACLE = f"""
WITH sig AS (
  SELECT doc_id, shingles FROM ({_SHINGLES_SQL})
), ex AS (
  SELECT doc_id, unnest(shingles) AS s FROM sig
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), tp AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sig sa ON sa.doc_id = inter.doc_a
  JOIN sig sb ON sb.doc_id = inter.doc_b
  WHERE i * 1.0 / (len(sa.shingles) + len(sb.shingles) - i)
        >= {JACCARD_THRESHOLD}
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM tp) AS n_true,
       CAST(0 AS BIGINT) AS n_false_positives,
       CAST(0 AS BIGINT) AS n_jaccard_mismatches,
       TRUE AS recall_floor_met
"""


# ---------------------------------------------------------------------------
# Incremental ingest dedup: an incoming batch probes the HISTORICAL
# signature store (the production pattern: history is pre-computed and
# persisted; only the delta pays shingle+minhash cost each ingest).
# ---------------------------------------------------------------------------

INGEST_MOD = 4  # doc_id % 4 == 0 plays the "incoming batch"


def band_signature_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, sh, band_id, key): hashed-shingle array + exploded LSH
    band keys — the persisted "signature store" schema. All narrow ops
    (split/transform/explode), so it runs identically over a static
    corpus or a streaming micro-batch (the streaming incremental-dedup
    twin in streaming/pipeline.py reuses it verbatim)."""
    docs = with_shingles(docs, text_col, floor=False)
    sig = docs.select(
        "doc_id",
        F.transform("shingles", lambda s: F.xxhash64(s)).alias("sh"),
        *_minhash_cols(F.col("shingles")),
    )
    band0, band1 = _band_exprs()

    return sig.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band_id"), band0.alias("key")),
                F.struct(F.lit(1).alias("band_id"), band1.alias("key")),
            )
        ).alias("b"),
    ).select("doc_id", "sh", "b.band_id", "b.key")


def incremental_verdicts(
    incoming: DataFrame,
    history: DataFrame,
    tiled: bool = False,
    scratch: list | None = None,
) -> DataFrame:
    """Join incoming band keys against the history signature store,
    verify candidates with exact Jaccard, emit per-doc reject
    verdicts. Both inputs carry the band_signature_table schema.

    ``tiled=True`` routes the probe through the rectangular pairgrid
    tiler (grid_cross_pairs) — the guard for a band bucket hot on
    BOTH the delta and the store (a boilerplate template arriving in
    a boilerplate-heavy corpus). Default stays the plain probe: band
    keys are hashed half-signatures and skew far less than verbatim
    grams, so the tiler's replication constant is usually not worth
    paying (round-11 note in SCALE.md); the option exists for
    workloads that measure a two-sided hot bucket. Verdicts are
    identical either way (twin-pinned on the hot-bucket corpus)."""
    if tiled:
        from finmapreduce_spark.operators.pairgrid import grid_cross_pairs

        cand = (
            grid_cross_pairs(
                incoming.select("doc_id", "sh", "band_id", "key"),
                history.select(
                    F.col("doc_id").alias("hist_id"),
                    F.col("sh").alias("sh_hist"),
                    "band_id",
                    "key",
                ),
                ["band_id", "key"],
                "doc_id",
                "hist_id",
                left_payload=["sh"],
                right_payload=["sh_hist"],
                scratch=scratch,
            )
            .select(
                "doc_id",
                "hist_id",
                F.col("sh").alias("sh_i"),
                F.col("sh_hist").alias("sh_h"),
            )
            .dropDuplicates(["doc_id", "hist_id"])
        )
    else:
        cand = (
            incoming.alias("i")
            .join(
                history.alias("h"),
                (F.col("i.band_id") == F.col("h.band_id"))
                & (F.col("i.key") == F.col("h.key")),
            )
            .select(
                F.col("i.doc_id").alias("doc_id"),
                F.col("h.doc_id").alias("hist_id"),
                F.col("i.sh").alias("sh_i"),
                F.col("h.sh").alias("sh_h"),
            )
            .dropDuplicates(["doc_id", "hist_id"])
        )
    inter = F.size(F.array_intersect("sh_i", "sh_h"))
    jac = inter / (F.size("sh_i") + F.size("sh_h") - inter)
    verdicts = (
        cand.withColumn("jaccard", F.round(jac, 6))
        .groupBy("doc_id")
        .agg(
            F.max("jaccard").alias("max_jaccard"),
            F.count("*").alias("n_candidates"),
        )
    )
    return verdicts.filter(F.col("max_jaccard") >= JACCARD_THRESHOLD).select(
        "doc_id",
        "n_candidates",
        "max_jaccard",
        F.lit("reject_near_dup").alias("verdict"),
    )


def dedup_incremental_vs_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which incoming docs are near-dups of the existing corpus.

    Split: doc_id % {m} == 0 is the incoming batch, the rest is
    history. Incoming band keys equi-join the history band table
    (in production a persisted parquet keyed by band — only the
    delta recomputes signatures); candidates verify with exact
    Jaccard on hashed shingles; max Jaccard per incoming doc is the
    verdict.

    Scale: the join key is the band bucket, so cost tracks candidate
    volume exactly as dedup_lsh_pairs; the incoming side is a DELTA
    (ingest batches are ≪ corpus), so per-ingest work is
    |delta| × bucket-hit-rate, never a corpus self-join. History
    signatures amortize across ingests — the incremental property
    batch dedup lacks.
    """
    buckets = band_signature_table(_docs(spark, sf_dir)).persist()
    incoming = buckets.filter(F.pmod("doc_id", F.lit(INGEST_MOD)) == 0)
    history = buckets.filter(F.pmod("doc_id", F.lit(INGEST_MOD)) != 0)
    return incremental_verdicts(incoming, history)


dedup_incremental_vs_history.__doc__ = dedup_incremental_vs_history.__doc__.format(
    m=INGEST_MOD
)


DEDUP_INCREMENTAL_ORACLE = f"""
WITH sig AS (
  SELECT doc_id, shingles, {_MINHASH_SQL_COLS} FROM ({_SHINGLES_SQL})
), buckets AS (
  SELECT doc_id, shingles, 0 AS band_id, {_BAND0} AS key FROM sig
  UNION ALL
  SELECT doc_id, shingles, 1 AS band_id, {_BAND1} AS key FROM sig
), cand AS (
  SELECT DISTINCT i.doc_id AS doc_id, h.doc_id AS hist_id
  FROM buckets i JOIN buckets h
    ON i.band_id = h.band_id AND i.key = h.key
  WHERE i.doc_id % {INGEST_MOD} = 0 AND h.doc_id % {INGEST_MOD} <> 0
), verified AS (
  SELECT c.doc_id,
         round(len(list_intersect(a.shingles, b.shingles))
               / len(list_distinct(list_concat(a.shingles, b.shingles))), 6)
           AS jaccard
  FROM cand c
  JOIN sig a ON a.doc_id = c.doc_id
  JOIN sig b ON b.doc_id = c.hist_id
), verdicts AS (
  SELECT doc_id, count(*) AS n_candidates, max(jaccard) AS max_jaccard
  FROM verified GROUP BY 1
)
SELECT doc_id, n_candidates, max_jaccard,
       'reject_near_dup' AS verdict
FROM verdicts WHERE max_jaccard >= {JACCARD_THRESHOLD}
"""


def pick_lsh_bands(
    spark: SparkSession,
    sf_dir: str,
    target_recall: float,
    configs: list | None = None,
) -> dict:
    """Multi-band LSH tuning: walk (bands × rows) layouts of the
    {n}-hash MinHash signature from strictest to loosest, measure
    candidate-pair recall against exact-Jaccard truth (pairs with
    J ≥ {t}), stop at the first layout clearing the target. Returns
    the chosen layout plus the measured (recall, candidate-count)
    curve — candidates ARE the verification workload, so the tuner
    picks the cheapest layout meeting the recall SLO.

    The doubling chain 1×8 ⊆ 2×4 ⊆ 4×2 ⊆ 8×1 nests candidate sets
    (all 8 hashes equal ⇒ both 4-row bands equal ⇒ …), so recall and
    cost are provably monotone along the default walk — pinned by
    test. Truth is all-pairs exact Jaccard on the tuning sample (the
    same bounded-evaluation budget as the ANN tuners: at 100 TB tune
    on a few thousand docs, apply the layout to the corpus).
    """
    if configs is None:
        configs = [(1, 8), (2, 4), (4, 2), (8, 1)]
    docs = with_shingles(_docs(spark, sf_dir))
    sig = docs.select(
        "doc_id",
        F.transform("shingles", lambda s: F.xxhash64(s)).alias("sh"),
        *_minhash_cols(F.col("shingles")),
    ).persist()
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    truth = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .where(jac >= F.lit(JACCARD_THRESHOLD))
        .select("doc_a", "doc_b")
        .persist()
    )
    n_truth = truth.count()
    curve = {}
    chosen = configs[-1]
    for nb, nr in configs:
        bands = [
            F.struct(
                F.lit(i).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[F.col(f"mh_{j}") for j in range(i * nr, (i + 1) * nr)],
                    )
                ).alias("key"),
            )
            for i in range(nb)
        ]
        buckets = sig.select(
            "doc_id", F.explode(F.array(*bands)).alias("bb")
        ).select("doc_id", "bb.band_id", "bb.key")
        cand = (
            buckets.alias("l")
            .join(
                buckets.alias("r"),
                (F.col("l.band_id") == F.col("r.band_id"))
                & (F.col("l.key") == F.col("r.key"))
                & (F.col("l.doc_id") < F.col("r.doc_id")),
            )
            .select(
                F.col("l.doc_id").alias("doc_a"),
                F.col("r.doc_id").alias("doc_b"),
            )
            .dropDuplicates()
        )
        n_cand = cand.count()
        hits = cand.join(truth, ["doc_a", "doc_b"]).count()
        recall = hits / n_truth if n_truth else 1.0
        curve[f"{nb}x{nr}"] = {"recall": round(recall, 6), "candidates": n_cand}
        if recall >= target_recall:
            chosen = (nb, nr)
            break
    sig.unpersist()
    truth.unpersist()
    return {
        "bands": chosen[0],
        "rows": chosen[1],
        "target": target_recall,
        "n_truth": n_truth,
        "curve": curve,
    }


pick_lsh_bands.__doc__ = pick_lsh_bands.__doc__.format(
    n=N_HASHES, t=JACCARD_THRESHOLD
)


# ---------------------------------------------------------------------------
# Duplicate-passage detection: exact substring-level dedup (the span
# analogue of Lee et al. 2022's suffix-array dedup, re-expressed as a
# shingle-hash diagonal chain — pure DataFrame ops, no suffix arrays).
# Document-level near-dup (above) misses the boilerplate CASE: two
# distinct documents sharing one long verbatim passage. This finds the
# maximal shared spans themselves.
# ---------------------------------------------------------------------------

PASSAGE_K = 6        # words per positional shingle
PASSAGE_MAX_DF = 10  # hot-shingle guard: drop grams in > this many docs
PASSAGE_MIN_RUN = 2  # >= this many chained shingles (>= K+1 words)
PASSAGE_MAX_OCC = 5  # per-(gram, doc) occurrence cap: first N positions


def _passage_words(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", _words(F.col("text")).alias("words"))


def passage_gram_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, pos, h): positional {k}-word gram hashes — narrow ops
    only (split/transform/explode), so it runs identically over a
    static corpus, the incoming half of a batch split, or a streaming
    micro-batch (the incremental twin in streaming/pipeline.py reuses
    it verbatim). Words are hashed once, then each gram hashes K longs
    per position instead of building a K-word string (A/B at sf0.1:
    parity — gram hashing is not the bottleneck — but the long path
    never materializes per-position strings, which matters as words
    grow). Gram equality == equality of the K word hashes."""
    w = docs.select("doc_id", _words(F.col(text_col)).alias("words"))
    wh = w.filter(F.size("words") >= PASSAGE_K).select(
        "doc_id",
        F.transform("words", lambda x: F.xxhash64(x)).alias("words_h"),
    )
    n = F.size("words_h")
    idx = F.sequence(F.lit(1), n - F.lit(PASSAGE_K - 1))
    grams = F.transform(
        idx,
        lambda i: F.struct(
            i.cast("long").alias("pos"),
            F.xxhash64(
                *[
                    F.element_at(F.col("words_h"), i + F.lit(j))
                    for j in range(PASSAGE_K)
                ]
            ).alias("h"),
        ),
    )
    return wh.select("doc_id", F.explode(grams).alias("g")).select(
        "doc_id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h")
    )


passage_gram_table.__doc__ = passage_gram_table.__doc__.format(k=PASSAGE_K)


def _capped_occurrences(grams: DataFrame) -> DataFrame:
    """(h, doc_id, poss): each gram's positions within each doc, capped
    at the FIRST ``PASSAGE_MAX_OCC`` (ascending pos — deterministic and
    SQL-reproducible as row_number over (g, doc) order by pos). The cap
    is the second bound the df-cap alone doesn't give: a gram repeated
    pathologically INSIDE one document (machine-generated logs, OCR
    stutter) would otherwise grow every downstream occurrence list by
    the repeat count. On clean text the cap is a no-op (the synthetic
    corpus' max within-doc repeat is 1 — measured at sf0.01)."""
    return grams.groupBy("h", "doc_id").agg(
        F.slice(F.sort_array(F.collect_list("pos")), 1, PASSAGE_MAX_OCC).alias(
            "poss"
        )
    )


def _passage_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span table (doc_a, doc_b, a_start, b_start, n_words) shared by
    the passage report (text sliced back out) and the coverage op."""
    return passage_spans_of(_docs(spark, sf_dir))


def passage_spans_of(docs: DataFrame) -> DataFrame:
    """Cross-document span detection over an arbitrary docs frame
    (doc_id, text) — the core of the passage family, factored out so
    tests can drive it with pathological corpora."""
    sh = passage_gram_table(docs)
    # Every collected list is now bounded by CONSTANTS: the per-doc
    # occurrence cap bounds each (h, doc) list at PASSAGE_MAX_OCC, and
    # the df pre-filter (a count-only agg, fully map-side partial, then
    # a semi-join shape) keeps hot corpus-wide grams from ever reaching
    # the per-gram collect — so the final occurrence row is at most
    # MAX_DF × MAX_OCC entries regardless of corpus pathology. Pairs
    # are still generated IN-ROW from that bounded list — no
    # position-table self-join at any point.
    per = _capped_occurrences(sh)
    # df via ONE window exchange on h instead of groupBy(h)+join-back
    # (round-15, guide §2.4): the join form computed the whole gram
    # pipeline TWICE (per was unpersisted and fed both the count agg
    # and the probe side) and shipped it by h twice; the window
    # computes the identical df in one exchange, and the groupBy("h")
    # below then REUSES that partitioning (window and aggregation
    # keyed the same way share the exchange). Same df, same spans.
    per = per.withColumn("df", F.count("*").over(W.partitionBy("h"))).filter(
        F.col("df").between(2, PASSAGE_MAX_DF)
    )
    occ = (
        per.groupBy("h")
        .agg(F.collect_list(F.struct("doc_id", "poss")).alias("docs"))
        .select(
            F.flatten(
                F.transform(
                    "docs",
                    lambda d: F.transform(
                        d["poss"],
                        lambda p: F.struct(
                            d["doc_id"].alias("doc_id"), p.alias("pos")
                        ),
                    ),
                )
            ).alias("occs")
        )
    )
    pair_arr = F.filter(
        F.flatten(
            F.transform(
                "occs",
                lambda x: F.transform(
                    "occs",
                    lambda y: F.struct(
                        x["doc_id"].alias("doc_a"),
                        x["pos"].alias("pa"),
                        y["doc_id"].alias("doc_b"),
                        y["pos"].alias("pb"),
                    ),
                ),
            )
        ),
        lambda p: p["doc_a"] < p["doc_b"],
    )
    pairs = (
        occ.select(F.explode(pair_arr).alias("p"))
        .select("p.doc_a", "p.pa", "p.doc_b", "p.pb")
        .withColumn("diag", F.col("pa") - F.col("pb"))
    )
    wnd = W.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    islands = pairs.withColumn("grp", F.col("pa") - F.row_number().over(wnd))
    spans = (
        islands.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pa").alias("a_start"),
            F.min("pb").alias("b_start"),
            F.count("*").alias("run"),
        )
        .filter(F.col("run") >= PASSAGE_MIN_RUN)
        .withColumn("n_words", (F.col("run") + F.lit(PASSAGE_K - 1)).cast("long"))
    )
    return spans.select("doc_a", "doc_b", "a_start", "b_start", "n_words")


def dedup_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document verbatim passages: positional {k}-word
    shingles → one gram-hash groupBy with in-row cross-doc pair
    generation → chain consecutive matches along each
    (doc_a, doc_b, pa−pb) DIAGONAL into maximal spans (island
    detection: pa − row_number is constant within a run), emit spans
    of ≥ {r} chained shingles with the passage text sliced back out
    of the source document.

    Scale: the position table is |tokens| rows but narrow (doc, pos,
    hash-long), scanned ONCE — one groupBy on the 64-bit gram hash
    collects each gram's occurrences, the classic df-cap (drop grams
    in > {df} docs) doing double duty as boilerplate-noise filter AND
    skew guard (the hottest keys are exactly the ones the cap
    removes), and cross-document pairs are generated in-row from the
    bounded occurrence list — no position-table self-join at all.
    Matched pairs, not the corpus, hit the window; the diagonal trick
    makes span merge one shuffle on (doc_a, doc_b, diag) with no
    self-join of spans. Spark groups hash longs (xxhash64) while the
    oracle joins gram strings — results agree unless 64-bit hashes
    collide, the same contract the contamination audit uses.
    """
    spans = _passage_spans(spark, sf_dir)
    w = _passage_words(spark, sf_dir)
    return spans.join(w, spans.doc_a == w.doc_id).select(
        "doc_a",
        "doc_b",
        "a_start",
        "b_start",
        "n_words",
        F.concat_ws(
            " ",
            F.slice(
                F.col("words"),
                F.col("a_start").cast("int"),
                F.col("n_words").cast("int"),
            ),
        ).alias("passage"),
    )


dedup_duplicate_passages.__doc__ = dedup_duplicate_passages.__doc__.format(
    k=PASSAGE_K, r=PASSAGE_MIN_RUN, df=PASSAGE_MAX_DF
)


DEDUP_PASSAGES_ORACLE = f"""
WITH w AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS words
           FROM documents),
sh0 AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(words[i:i+{PASSAGE_K - 1}], ' ') AS g
  FROM w, LATERAL unnest(range(1, greatest(0, len(words) - {PASSAGE_K - 1}) + 1)) AS t(i)
),
sh AS (
  SELECT doc_id, pos, g FROM (
    SELECT doc_id, pos, g,
           row_number() OVER (PARTITION BY g, doc_id ORDER BY pos) AS rn
    FROM sh0) WHERE rn <= {PASSAGE_MAX_OCC}
),
ok AS (SELECT g FROM sh GROUP BY g HAVING count(DISTINCT doc_id) <= {PASSAGE_MAX_DF}),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb,
         a.pos - b.pos AS diag
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  WHERE a.g IN (SELECT g FROM ok)
),
isl AS (SELECT *, pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
        FROM p),
sp AS (
  SELECT doc_a, doc_b, min(pa) AS a_start, min(pb) AS b_start, count(*) AS run
  FROM isl GROUP BY doc_a, doc_b, diag, grp
  HAVING count(*) >= {PASSAGE_MIN_RUN}
)
SELECT s.doc_a, s.doc_b, s.a_start, s.b_start,
       CAST(s.run + {PASSAGE_K - 1} AS BIGINT) AS n_words,
       array_to_string(w.words[s.a_start : s.a_start + s.run + {PASSAGE_K - 2}], ' ') AS passage
FROM sp s JOIN w ON w.doc_id = s.doc_a
"""


def interval_union_coverage(iv: DataFrame) -> DataFrame:
    """(doc_id, covered_words) from possibly-overlapping word intervals
    (doc_id, s, e): one interval-sweep — running max-end over earlier
    starts marks island opens, a running sum numbers islands, per-island
    extents sum. One shuffle on doc_id; the two windows share its sort.
    Shared by the batch coverage op and the streaming ingest admit
    policy (serve_incremental_passages_continuous)."""
    wnd = W.partitionBy("doc_id").orderBy("s", "e")
    swept = iv.withColumn(
        "pme", F.max("e").over(wnd.rowsBetween(W.unboundedPreceding, -1))
    ).withColumn(
        "ni",
        F.when(F.col("pme").isNull() | (F.col("s") > F.col("pme")), 1).otherwise(0),
    ).withColumn(
        "isl", F.sum("ni").over(wnd.rowsBetween(W.unboundedPreceding, 0))
    )
    islands = swept.groupBy("doc_id", "isl").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    return islands.groupBy("doc_id").agg(
        F.sum(F.col("e") - F.col("s") + 1).alias("covered_words")
    )


def dedup_passage_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-passage coverage: take every detected
    span on BOTH of its sides, union the (possibly overlapping) word
    intervals per document with one interval-sweep window (running
    max-end over earlier starts → island ids → per-island extents),
    and report covered_words / total_words. This is the signal a
    keep/trim policy acts on — a doc that is 80% shared boilerplate
    is a removal candidate even when no WHOLE-document near-dup fires.

    Scale: input is the span table (already tiny relative to the
    corpus); the sweep is one shuffle on doc_id and the two windows
    share its sort. Interval union via running-max is order-correct
    for any overlap structure; ties are deterministic (order by
    start, end). Total words joins back to the corpus scan — the only
    full-corpus cost, a narrow projection.
    """
    spans = _passage_spans(spark, sf_dir)
    a = spans.select(
        F.col("doc_a").alias("doc_id"),
        F.col("a_start").alias("s"),
        (F.col("a_start") + F.col("n_words") - 1).alias("e"),
    )
    b = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.col("b_start").alias("s"),
        (F.col("b_start") + F.col("n_words") - 1).alias("e"),
    )
    cov = interval_union_coverage(a.unionByName(b))
    totals = _passage_words(spark, sf_dir).select(
        "doc_id", F.size("words").cast("long").alias("total_words")
    )
    return cov.join(totals, "doc_id").select(
        "doc_id",
        "total_words",
        F.col("covered_words").cast("long").alias("covered_words"),
        F.round(F.col("covered_words") / F.col("total_words"), 6).alias("coverage"),
    )


DEDUP_COVERAGE_ORACLE = f"""
WITH spans AS ({DEDUP_PASSAGES_ORACLE}),
iv AS (
  SELECT doc_a AS doc_id, a_start AS s, a_start + n_words - 1 AS e FROM spans
  UNION ALL
  SELECT doc_b AS doc_id, b_start AS s, b_start + n_words - 1 AS e FROM spans
),
swept AS (
  SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
  FROM iv
),
marked AS (
  SELECT *, CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS ni FROM swept
),
numbered AS (
  SELECT *, sum(ni) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM marked
),
islands AS (SELECT doc_id, isl, min(s) AS s, max(e) AS e FROM numbered GROUP BY 1, 2),
cov AS (SELECT doc_id, sum(e - s + 1) AS covered_words FROM islands GROUP BY 1),
tot AS (SELECT doc_id,
               len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS total_words
        FROM documents)
SELECT c.doc_id, CAST(t.total_words AS BIGINT) AS total_words,
       CAST(c.covered_words AS BIGINT) AS covered_words,
       round(c.covered_words / t.total_words, 6) AS coverage
FROM cov c JOIN tot t ON t.doc_id = c.doc_id
"""


# ---------------------------------------------------------------------------
# Incremental passage dedup: probe newly ingested docs against the
# persisted gram store (the passage-level twin of the band-signature
# incremental near-dup above).
# ---------------------------------------------------------------------------

def passage_gram_store(docs: DataFrame, max_df: int = PASSAGE_MAX_DF) -> DataFrame:
    """History gram store with BOTH caps applied AT BUILD: grams in
    > max_df history docs are dropped (boilerplate filter + probe-join
    skew guard), and each kept gram carries at most PASSAGE_MAX_OCC
    positions per doc. As the store accretes appended epochs the cap drifts
    (a gram can cross the threshold after build); re-apply it at
    compaction, exactly like the band-signature store's compaction
    collapses replayed epochs."""
    per = _capped_occurrences(passage_gram_table(docs))
    # window df instead of groupBy+join-back (see passage_spans_of —
    # one exchange, one gram pipeline, identical rows)
    return (
        per.withColumn("df", F.count("*").over(W.partitionBy("h")))
        .filter(F.col("df") <= max_df)
        .select("doc_id", F.explode("poss").alias("pos"), "h")
    )


def incremental_passage_spans(
    incoming_grams: DataFrame, store_grams: DataFrame
) -> DataFrame:
    """Maximal verbatim spans each incoming doc shares with history:
    equi join on the gram hash (incoming is a DELTA, so cost is
    |delta grams| × store hit rate), then the same diagonal-chain
    island merge as the batch passage op, partitioned by
    (doc_id, hist_id, diag). Shared verbatim by the batch catalog
    query and the streaming foreachBatch twin. Both sides carry the
    per-doc occurrence cap (the store at build, the incoming delta
    here) so the probe join's fan-out per gram hash is bounded by
    PASSAGE_MAX_OCC² × store df regardless of input pathology.

    The history side is re-guarded here rather than trusted: an
    at-least-once replayed epoch can append duplicate (doc,pos,h)
    rows (duplicate pb positions fragment the diagonal chaining into
    wrong-n_words spans), and per-epoch appends apply only the
    per-doc cap, so a hot gram can drift past PASSAGE_MAX_DF between
    compactions. Both guards run on the PROBED SLICE of the store
    (semi-join on the delta's gram hashes first), so their cost
    scales with |delta| × hit rate, not store size — and they are
    no-ops on a freshly compacted store."""
    inc = (
        _capped_occurrences(incoming_grams)
        .select("doc_id", F.explode("poss").alias("pa"), "h")
    )
    hist = (
        store_grams.select(
            F.col("doc_id").alias("hist_id"), F.col("pos").alias("pb"), "h"
        )
        .join(inc.select("h").distinct(), "h", "left_semi")
        .dropDuplicates(["hist_id", "pb", "h"])
    )
    hot = (
        hist.groupBy("h")
        .agg(F.count_distinct("hist_id").alias("df"))
        .filter(F.col("df") > PASSAGE_MAX_DF)
        .select("h")
    )
    hist = hist.join(hot, "h", "left_anti")
    pairs = inc.join(hist, "h").withColumn("diag", F.col("pa") - F.col("pb"))
    wnd = W.partitionBy("doc_id", "hist_id", "diag").orderBy("pa")
    islands = pairs.withColumn("grp", F.col("pa") - F.row_number().over(wnd))
    return (
        islands.groupBy("doc_id", "hist_id", "diag", "grp")
        .agg(
            F.min("pa").alias("a_start"),
            F.min("pb").alias("b_start"),
            F.count("*").alias("run"),
        )
        .filter(F.col("run") >= PASSAGE_MIN_RUN)
        .select(
            "doc_id",
            "hist_id",
            "a_start",
            "b_start",
            (F.col("run") + F.lit(PASSAGE_K - 1)).cast("long").alias("n_words"),
        )
    )


def dedup_incremental_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which passages of the incoming batch (doc_id % {m} == 0) are
    verbatim copies from the existing corpus — the ingest-time
    complement of dedup_duplicate_passages, for trimming or
    provenance-tagging newly crawled docs against what the corpus
    already contains. Incoming grams probe the df-capped history
    store; per-ingest cost is |delta| × store hit rate, never a
    corpus self-join."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    incoming = docs.filter(F.pmod("doc_id", F.lit(INGEST_MOD)) == 0)
    history = docs.filter(F.pmod("doc_id", F.lit(INGEST_MOD)) != 0)
    return incremental_passage_spans(
        passage_gram_table(incoming), passage_gram_store(history)
    )


dedup_incremental_passages.__doc__ = dedup_incremental_passages.__doc__.format(
    m=INGEST_MOD
)


DEDUP_INC_PASSAGES_ORACLE = f"""
WITH w AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS words
           FROM documents),
sh0 AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(words[i:i+{PASSAGE_K - 1}], ' ') AS g
  FROM w, LATERAL unnest(range(1, greatest(0, len(words) - {PASSAGE_K - 1}) + 1)) AS t(i)
),
sh AS (
  SELECT doc_id, pos, g FROM (
    SELECT doc_id, pos, g,
           row_number() OVER (PARTITION BY g, doc_id ORDER BY pos) AS rn
    FROM sh0) WHERE rn <= {PASSAGE_MAX_OCC}
),
inc AS (SELECT * FROM sh WHERE doc_id % {INGEST_MOD} = 0),
hist AS (SELECT * FROM sh WHERE doc_id % {INGEST_MOD} <> 0),
ok AS (SELECT g FROM hist GROUP BY g HAVING count(DISTINCT doc_id) <= {PASSAGE_MAX_DF}),
p AS (
  SELECT i.doc_id, h.doc_id AS hist_id, i.pos AS pa, h.pos AS pb,
         i.pos - h.pos AS diag
  FROM inc i JOIN hist h ON i.g = h.g
  WHERE i.g IN (SELECT g FROM ok)
),
isl AS (SELECT *, pa - row_number() OVER (PARTITION BY doc_id, hist_id, diag ORDER BY pa) AS grp
        FROM p)
SELECT doc_id, hist_id, min(pa) AS a_start, min(pb) AS b_start,
       CAST(count(*) + {PASSAGE_K - 1} AS BIGINT) AS n_words
FROM isl GROUP BY doc_id, hist_id, diag, grp
HAVING count(*) >= {PASSAGE_MIN_RUN}
"""


# ---------------------------------------------------------------------------
# Syntactic candidates, SEMANTIC verification — the modern near-dup
# recipe: MinHash bands generate bounded-bucket candidate pairs (cheap,
# no n²), then an embedding-cosine gate replaces exact Jaccard so
# paraphrase-level duplicates survive token edits that break shingle
# overlap. The verifier embeds each candidate doc with the REAL
# hashing-BoW Arrow UDF (functions/scoring.py), so this query also
# value-checks model inference inside a composed dedup DAG.
# ---------------------------------------------------------------------------

SEMANTIC_COSINE_MIN = 0.99


def _semantic_buckets(shingled: DataFrame) -> DataFrame:
    """(doc_id, band_id, key): the semantic lane's MinHash band
    buckets over an already-shingled frame — shared by the batch lane
    and the incremental capstone's cross probe."""
    sig = shingled.select("doc_id", *_minhash_cols(F.col("shingles")))
    band0, band1 = _band_exprs()
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band_id"), band0.alias("key")),
                F.struct(F.lit(1).alias("band_id"), band1.alias("key")),
            )
        ).alias("b"),
    ).select("doc_id", "b.band_id", "b.key")


def _hashing_bow_embeddings(docs: DataFrame) -> DataFrame:
    """(doc_id, e, nm): hashing-BoW embedding + L2 norm — the
    semantic lane's verify features, one definition for the batch
    lane and the incremental cross probe."""
    from finmapreduce_spark.functions.scoring import embed_text_udf

    return docs.select(
        "doc_id", embed_text_udf("hashing-bow")(F.col("text")).alias("e")
    ).withColumn("nm", F.sqrt(_dot(F.col("e"), F.col("e"))))


def dedup_semantic_verify(
    spark: SparkSession,
    sf_dir: str,
    shingled: DataFrame | None = None,
    buckets: DataFrame | None = None,
    emb: DataFrame | None = None,
    scratch: list | None = None,
    cand: DataFrame | None = None,
) -> DataFrame:
    """Band-bucket candidates ∘ hashing-BoW cosine gate.

    Scale: candidate generation is the same banded equi-join as
    dedup_lsh_pairs (the only join that runs at 100 TB); embedding is
    one narrow Arrow map over the corpus, persisted so the pair join's
    two sides don't re-run the UDF; the verify is a 64-element fold
    per candidate. The embedding's integer-valued components keep the
    cosine FP-exact, so the DuckDB oracle reconstructs the whole DAG
    — candidates AND model output — relationally."""
    # ``buckets``/``emb``: prebuilt signature stores (the incremental
    # capstone's master_history_state shape); ``scratch`` collects the
    # frames THIS call persists (staged-lane lifecycle). ``cand``:
    # prebuilt candidate id pairs — the semantic band keys are the
    # LSH lane's by shared definition, so a keep-list composition
    # that already generated the LSH candidates passes them here and
    # this lane runs the cosine gate only.
    docs = (
        shingled
        if shingled is not None
        else with_shingles(_docs(spark, sf_dir))
    )
    if cand is None:
        if buckets is None:
            buckets = _semantic_buckets(docs)
        cand = (
            buckets.alias("l")
            .join(
                buckets.alias("r"),
                (F.col("l.band_id") == F.col("r.band_id"))
                & (F.col("l.key") == F.col("r.key"))
                & (F.col("l.doc_id") < F.col("r.doc_id")),
            )
            .select(
                F.col("l.doc_id").alias("doc_a"),
                F.col("r.doc_id").alias("doc_b"),
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )
    # when a shared shingled frame is passed it still carries text,
    # and reading it hits the caller's cache instead of a fourth
    # corpus scan
    if emb is None:
        emb = _hashing_bow_embeddings(docs).persist()
        if scratch is not None:
            scratch.append(emb)
    a, b = emb.alias("a"), emb.alias("b")
    pairs = (
        cand.join(a, cand.doc_a == F.col("a.doc_id"))
        .join(b, cand.doc_b == F.col("b.doc_id"))
    )
    cos = F.round(
        F.when(
            F.col("a.nm") * F.col("b.nm") > 0,
            _dot(F.col("a.e"), F.col("b.e")) / (F.col("a.nm") * F.col("b.nm")),
        ).otherwise(F.lit(0.0)),
        6,
    )
    return (
        pairs.select("doc_a", "doc_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= SEMANTIC_COSINE_MIN)
    )


DEDUP_SEMANTIC_ORACLE = f"""
WITH sig AS (
  SELECT doc_id, {_MINHASH_SQL_COLS} FROM ({_SHINGLES_SQL})
), buckets AS (
  SELECT doc_id, 0 AS band_id, {_BAND0} AS key FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band_id, {_BAND1} AS key FROM sig
), cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM buckets l JOIN buckets r
    ON l.band_id = r.band_id AND l.key = r.key AND l.doc_id < r.doc_id
), toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents
), hx AS (
  SELECT doc_id, md5(w) AS h FROM toks
), feat AS (
  SELECT doc_id,
         ((strpos('0123456789abcdef', substring(h, 7, 1)) - 1) * 16
          + strpos('0123456789abcdef', substring(h, 8, 1)) - 1) % 64 AS idx,
         CAST(sum(CASE WHEN (strpos('0123456789abcdef', substring(h, 10, 1)) - 1) % 2 = 1
                       THEN 1 ELSE -1 END) AS DOUBLE) AS wgt
  FROM hx GROUP BY 1, 2
), nrm AS (
  SELECT doc_id, sqrt(sum(wgt * wgt)) AS nm FROM feat GROUP BY 1
), dots AS (
  SELECT c.doc_a, c.doc_b, sum(fa.wgt * fb.wgt) AS dp
  FROM cand c
  JOIN feat fa ON fa.doc_id = c.doc_a
  JOIN feat fb ON fb.doc_id = c.doc_b AND fb.idx = fa.idx
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       round(CASE WHEN na.nm * nb.nm > 0
                  THEN coalesce(d.dp, 0) / (na.nm * nb.nm)
                  ELSE 0.0 END, 6) AS cosine
FROM cand c
JOIN nrm na ON na.doc_id = c.doc_a
JOIN nrm nb ON nb.doc_id = c.doc_b
LEFT JOIN dots d ON d.doc_a = c.doc_a AND d.doc_b = c.doc_b
WHERE round(CASE WHEN na.nm * nb.nm > 0
                 THEN coalesce(d.dp, 0) / (na.nm * nb.nm)
                 ELSE 0.0 END, 6) >= {SEMANTIC_COSINE_MIN}
"""


# Semantic INGEST gate: slightly looser than the pair-mining gate —
# ingest rejects on "close enough to an existing doc", mining reports
# only the tightest pairs.
SEMANTIC_INGEST_MIN = 0.95


def semantic_signature_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, e, nm, band_id, key): hashing-BoW embedding + LSH band
    keys — the persisted store schema for SEMANTIC incremental dedup.
    Candidate generation stays the MinHash band join (syntactic,
    bounded buckets); the verification payload is the 64-dim embedding
    (one fixed-width array per doc) instead of the shingle array. All
    narrow ops + one Arrow UDF pass, identical over a static corpus or
    a streaming micro-batch."""
    from finmapreduce_spark.functions.scoring import embed_text_udf

    docs = docs.withColumn(
        "__e", embed_text_udf("hashing-bow")(F.col(text_col))
    )
    sig = with_shingles(docs, text_col, floor=False).select(
        "doc_id", "__e", *_minhash_cols(F.col("shingles"))
    )
    band0, band1 = _band_exprs()

    return (
        sig.select(
            "doc_id",
            F.col("__e").alias("e"),
            F.explode(
                F.array(
                    F.struct(F.lit(0).alias("band_id"), band0.alias("key")),
                    F.struct(F.lit(1).alias("band_id"), band1.alias("key")),
                )
            ).alias("b"),
        )
        .withColumn("nm", F.sqrt(_dot(F.col("e"), F.col("e"))))
        .select("doc_id", "e", "nm", "b.band_id", "b.key")
    )


def incremental_semantic_verdicts(
    incoming: DataFrame, history: DataFrame
) -> DataFrame:
    """Join incoming band keys against the history semantic store,
    verify candidates with embedding cosine, emit per-doc reject
    verdicts. Both inputs carry the semantic_signature_table schema."""
    cand = (
        incoming.alias("i")
        .join(
            history.alias("h"),
            (F.col("i.band_id") == F.col("h.band_id"))
            & (F.col("i.key") == F.col("h.key")),
        )
        .select(
            F.col("i.doc_id").alias("doc_id"),
            F.col("h.doc_id").alias("hist_id"),
            F.col("i.e").alias("e_i"),
            F.col("i.nm").alias("nm_i"),
            F.col("h.e").alias("e_h"),
            F.col("h.nm").alias("nm_h"),
        )
        .dropDuplicates(["doc_id", "hist_id"])
    )
    cos = F.round(
        F.when(
            F.col("nm_i") * F.col("nm_h") > 0,
            _dot(F.col("e_i"), F.col("e_h")) / (F.col("nm_i") * F.col("nm_h")),
        ).otherwise(F.lit(0.0)),
        6,
    )
    verdicts = (
        cand.withColumn("cosine", cos)
        .groupBy("doc_id")
        .agg(
            F.max("cosine").alias("max_cosine"),
            F.count("*").alias("n_candidates"),
        )
    )
    return verdicts.filter(
        F.col("max_cosine") >= SEMANTIC_INGEST_MIN
    ).select(
        "doc_id",
        "n_candidates",
        "max_cosine",
        F.lit("reject_semantic_dup").alias("verdict"),
    )


def dedup_incremental_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which incoming docs are SEMANTIC near-dups of the existing
    corpus — the ingest twin of dedup_semantic_verify, same split
    convention as dedup_incremental_vs_history (doc_id % m == 0 is
    the delta). The model UDF output is value-checked through the
    composed probe DAG by the relational embedding reconstruction."""
    sigs = semantic_signature_table(_docs(spark, sf_dir)).persist()
    incoming = sigs.filter(F.pmod("doc_id", F.lit(INGEST_MOD)) == 0)
    history = sigs.filter(F.pmod("doc_id", F.lit(INGEST_MOD)) != 0)
    return incremental_semantic_verdicts(incoming, history)


_SEMANTIC_FEAT_SQL = """
  SELECT doc_id,
         ((strpos('0123456789abcdef', substring(h, 7, 1)) - 1) * 16
          + strpos('0123456789abcdef', substring(h, 8, 1)) - 1) % 64 AS idx,
         CAST(sum(CASE WHEN (strpos('0123456789abcdef', substring(h, 10, 1)) - 1) % 2 = 1
                       THEN 1 ELSE -1 END) AS DOUBLE) AS wgt
  FROM (SELECT doc_id, md5(w) AS h
        FROM (SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
              FROM documents))
  GROUP BY 1, 2
"""

DEDUP_INC_SEMANTIC_ORACLE = f"""
WITH sig AS (
  SELECT doc_id, {_MINHASH_SQL_COLS} FROM ({_SHINGLES_SQL})
), buckets AS (
  SELECT doc_id, 0 AS band_id, {_BAND0} AS key FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band_id, {_BAND1} AS key FROM sig
), cand AS (
  SELECT DISTINCT i.doc_id AS doc_id, h.doc_id AS hist_id
  FROM buckets i JOIN buckets h
    ON i.band_id = h.band_id AND i.key = h.key
  WHERE i.doc_id % {INGEST_MOD} = 0 AND h.doc_id % {INGEST_MOD} <> 0
), feat AS ({_SEMANTIC_FEAT_SQL}
), nrm AS (
  SELECT doc_id, sqrt(sum(wgt * wgt)) AS nm FROM feat GROUP BY 1
), dots AS (
  SELECT c.doc_id, c.hist_id, sum(fi.wgt * fh.wgt) AS dp
  FROM cand c
  JOIN feat fi ON fi.doc_id = c.doc_id
  JOIN feat fh ON fh.doc_id = c.hist_id AND fh.idx = fi.idx
  GROUP BY 1, 2
), verified AS (
  SELECT c.doc_id,
         round(CASE WHEN ni.nm * nh.nm > 0
                    THEN coalesce(d.dp, 0) / (ni.nm * nh.nm)
                    ELSE 0.0 END, 6) AS cosine
  FROM cand c
  JOIN nrm ni ON ni.doc_id = c.doc_id
  JOIN nrm nh ON nh.doc_id = c.hist_id
  LEFT JOIN dots d ON d.doc_id = c.doc_id AND d.hist_id = c.hist_id
), verdicts AS (
  SELECT doc_id, count(*) AS n_candidates, max(cosine) AS max_cosine
  FROM verified GROUP BY 1
)
SELECT doc_id, n_candidates, max_cosine,
       'reject_semantic_dup' AS verdict
FROM verdicts WHERE max_cosine >= {SEMANTIC_INGEST_MIN}
"""


QUERIES: dict[str, QuerySpec] = {
    "dedup_exact": QuerySpec(dedup_exact, DEDUP_EXACT_ORACLE),
    "dedup_semantic_verify": QuerySpec(
        dedup_semantic_verify, DEDUP_SEMANTIC_ORACLE
    ),
    "dedup_incremental_semantic": QuerySpec(
        dedup_incremental_semantic, DEDUP_INC_SEMANTIC_ORACLE
    ),
    "dedup_minhash_signature": QuerySpec(dedup_minhash_signature, DEDUP_MINHASH_ORACLE),
    "dedup_lsh_pairs": QuerySpec(dedup_lsh_pairs, DEDUP_LSH_ORACLE),
    "dedup_lsh_pairs_grid": QuerySpec(dedup_lsh_pairs_grid, DEDUP_LSH_ORACLE),
    "dedup_simhash": QuerySpec(dedup_simhash, DEDUP_SIMHASH_ORACLE),
    "dedup_simhash_pairs": QuerySpec(
        dedup_simhash_pairs, DEDUP_SIMHASH_PAIRS_ORACLE
    ),
    "dedup_simhash_pairs_grid": QuerySpec(
        dedup_simhash_pairs_grid, DEDUP_SIMHASH_PAIRS_ORACLE
    ),
    "dedup_ngram_jaccard": QuerySpec(dedup_ngram_jaccard, DEDUP_NGRAM_ORACLE),
    "dedup_embedding_cosine": QuerySpec(dedup_embedding_cosine, DEDUP_COSINE_ORACLE),
    "dedup_cluster_canonical": QuerySpec(
        dedup_cluster_canonical, DEDUP_CLUSTER_ORACLE
    ),
    "dedup_keep_list": QuerySpec(dedup_keep_list, DEDUP_KEEP_ORACLE),
    "dedup_ml_minhash_lsh": QuerySpec(
        dedup_ml_minhash_lsh, DEDUP_ML_LSH_CERTIFY_ORACLE
    ),
    "dedup_incremental_vs_history": QuerySpec(
        dedup_incremental_vs_history, DEDUP_INCREMENTAL_ORACLE
    ),
    "dedup_duplicate_passages": QuerySpec(
        dedup_duplicate_passages, DEDUP_PASSAGES_ORACLE
    ),
    "dedup_passage_coverage": QuerySpec(
        dedup_passage_coverage, DEDUP_COVERAGE_ORACLE
    ),
    "dedup_incremental_passages": QuerySpec(
        dedup_incremental_passages, DEDUP_INC_PASSAGES_ORACLE
    ),
}


# ---------------------------------------------------------------------------
# LSH banding recall gate — the dedup twin of ann_recall_at_k: how
# many TRUE near-dup pairs (exact shingle Jaccard >= θ, computed by
# the exhaustive inverted-index join — exact because any pair with
# J > 0 shares a shingle) does the 2-band MinHash blocking actually
# surface? The number that licenses running banded LSH instead of
# the exact join at scale. Verified LSH output has precision 1 by
# construction (candidates are exact-verified), so recall is the
# one quality number.
#
# Scale: the exact ground truth is an OFFLINE gate — the inverted
# index joins every co-shingle pair, so at 100 TB it runs on a
# sampled slice (the same sampling argument ann_recall_at_k makes);
# the banding being measured is the part that runs on the full
# corpus.
# ---------------------------------------------------------------------------

def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_shingles(_docs(spark, sf_dir)).persist()
    ex = docs.select("doc_id", F.explode("shingles").alias("s"))
    inter = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("i"))
    )
    sizes = docs.select("doc_id", F.size("shingles").alias("sz"))
    # persisted: each side feeds both its count aggregate and the
    # hits semi-join — without the persist the exhaustive
    # inverted-index join (the expensive part) runs twice
    true_pairs = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("sz", "sz_a")
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "sz", "sz_b"
            ),
            "doc_b",
        )
        .filter(
            F.col("i") / (F.col("sz_a") + F.col("sz_b") - F.col("i"))
            >= JACCARD_THRESHOLD
        )
        .select("doc_a", "doc_b")
        .persist()
    )
    # the SAME banding the production dedup/streaming paths use —
    # band_signature_table is the single definition, so this gate
    # always measures the blocking scheme that actually runs
    buckets = band_signature_table(_docs(spark, sf_dir)).select(
        "doc_id", "band_id", "key"
    )
    cand = (
        buckets.alias("l")
        .join(
            buckets.alias("r"),
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .persist()
    )
    hits = true_pairs.join(cand, ["doc_a", "doc_b"], "left_semi")
    return (
        true_pairs.agg(F.count("*").alias("n_true"))
        .crossJoin(cand.agg(F.count("*").alias("n_candidates")))
        .crossJoin(hits.agg(F.count("*").alias("n_hits")))
        .select(
            "n_true",
            "n_candidates",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_true"), 6).alias("recall"),
        )
    )


DEDUP_LSH_RECALL_ORACLE = f"""
WITH sig AS (
  SELECT doc_id, shingles FROM ({_SHINGLES_SQL})
), ex AS (
  SELECT doc_id, unnest(shingles) AS s FROM sig
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), tp AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sig sa ON sa.doc_id = inter.doc_a
  JOIN sig sb ON sb.doc_id = inter.doc_b
  WHERE i * 1.0 / (len(sa.shingles) + len(sb.shingles) - i)
        >= {JACCARD_THRESHOLD}
), sigm AS (
  SELECT doc_id, {_MINHASH_SQL_COLS} FROM sig
), buckets AS (
  SELECT doc_id, 0 AS band_id, {_BAND0} AS key FROM sigm
  UNION ALL
  SELECT doc_id, 1 AS band_id, {_BAND1} AS key FROM sigm
), cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM buckets l JOIN buckets r
    ON l.band_id = r.band_id AND l.key = r.key AND l.doc_id < r.doc_id
), hits AS (
  SELECT tp.* FROM tp
  WHERE EXISTS (SELECT 1 FROM cand c
                WHERE c.doc_a = tp.doc_a AND c.doc_b = tp.doc_b)
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM tp) AS n_true,
       (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
       (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_hits,
       round((SELECT count(*) FROM hits) * 1.0
             / (SELECT count(*) FROM tp), 6) AS recall
"""


QUERIES.update(
    {
        "dedup_lsh_recall": QuerySpec(dedup_lsh_recall, DEDUP_LSH_RECALL_ORACLE),
    }
)


# ---------------------------------------------------------------------------
# PageRank over the document link graph — the crawl-priority /
# page-quality ranking step of web-corpus curation (RefinedWeb /
# CommonCrawl pipelines rank pages before selecting training data).
# The graph here is synthesized deterministically (doc d links to
# (d*31 + 7*j) % N for j = 1..(d%3)+1 — variable out-degree 1..3, no
# dangling nodes), because the corpus has no real hyperlinks; the
# OPERATOR — K damped propagation rounds as join+aggregate — is what
# the catalog certifies.
#
# INTEGER-EXACT variant: ranks are scaled integers (r0 = 1000), each
# contribution is floor(r/outdeg) (integer div) and the damped update
# is 150 + (85 * Σcontrib) div 100 — the same all-integer trick as
# the perceptron/BPE trainers, so both engines produce bit-identical
# ranks and the oracle unrolls the K rounds as CTEs.
#
# Scale: one equi-join (ranks ⋈ edges on src) + one groupBy(dst) per
# round — the canonical DataFrame PageRank; edges shuffle once per
# round on dst, ranks are |V| rows. At 100 TB: pre-partition edges
# by src and ranks by id so the join co-locates, and checkpoint the
# rank lineage every few rounds (the CC loop's localCheckpoint note
# applies).
# ---------------------------------------------------------------------------

PR_ITERS = 3
PR_SCALE = 1000   # initial integer rank per node
PR_BASE = 150     # (1-d) * PR_SCALE with d = 0.85
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100
PR_MAX_ITERS = 50        # convergence-mode safety budget
PR_CHECKPOINT_EVERY = 5  # lineage cut cadence in convergence mode


def _pr_edges(docs: DataFrame, n: int) -> DataFrame:
    return (
        docs.select(
            F.col("doc_id").alias("src"),
            F.explode(
                F.sequence(F.lit(1), (F.col("doc_id") % 3) + 1)
            ).alias("j"),
        )
        .select(
            "src", ((F.col("src") * 31 + F.col("j") * 7) % n).alias("dst")
        )
    )


def pagerank_ranks(
    docs: DataFrame,
    edges: DataFrame,
    n_iters: int | None = PR_ITERS,
    max_iters: int = PR_MAX_ITERS,
    checkpoint_every: int = PR_CHECKPOINT_EVERY,
    tol: int | None = None,
) -> DataFrame:
    """Integer-exact damped PageRank over (src, dst) edges for the
    ``docs`` node set. Two modes:

    - ``n_iters`` set (the catalog/oracle setting): exactly that many
      join+aggregate rounds, returned as a LAZY plan so the unrolled
      CTE oracle stays bit-exact.
    - ``n_iters=None`` (convergence mode, the real-crawl setting):
      iterate until the L1 rank delta Σ|r_new − r_old| ≤ ``tol``,
      up to ``max_iters``. ``tol=None`` (default) resolves to |V| —
      the standard L1 < ε·N stop expressed in integer units (mean
      rank change < 1 unit/node). tol=0 demands the exact integer
      fixpoint: it exists and is reached quickly on small graphs
      (pinned at sf0.001), but on larger graphs the floor-division
      tail decays ~0.8×/round for dozens of rounds (measured at
      sf0.1: Σ|Δ| = 155 after 30 rounds, n=5000) and can bottom out
      in a small limit cycle — don't use tol=0 past toy scale.
      Ranks are localCheckpoint-ed every
      ``checkpoint_every`` rounds — the per-round delta aggregate
      re-executes at most that many rounds of lineage, and the
      logical plan never grows past the cadence (the CC loop's
      lineage lesson at _cc_star applies: unbounded iteration with
      unbounded lineage eventually blows up Catalyst analysis, not
      just execution). The delta is a single scalar aggregate — no
      rank data ever reaches the driver. On a cluster, set
      FMR_CHECKPOINT_DIR to swap the local blocks for reliable
      checkpoint(dir) (operators/checkpoints.py).

    edges/outdeg persists are caller-owned (bench/compare clearCache
    per query), matching the catalog-wide lifecycle contract.
    """
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    edges = edges.persist()
    outdeg = outdeg.persist()
    ranks = docs.select("doc_id", F.lit(PR_SCALE).cast("long").alias("rank"))

    def step(r: DataFrame) -> DataFrame:
        contribs = (
            r.join(edges, r.doc_id == edges.src)
            .join(outdeg, "src")
            .select("dst", F.expr("rank div deg").cast("long").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        return (
            docs.join(contribs, docs.doc_id == contribs.dst, "left")
            .select(
                "doc_id",
                (
                    F.lit(PR_BASE)
                    + F.expr(
                        f"({PR_DAMP_NUM} * coalesce(s, 0)) div {PR_DAMP_DEN}"
                    )
                ).cast("long").alias("rank"),
            )
        )

    if n_iters is not None:
        for _ in range(n_iters):
            ranks = step(ranks)
        return ranks.select("doc_id", "rank")

    if tol is None:
        tol = docs.count()  # L1 ≤ |V|: mean change < 1 integer unit
    ranks = iter_checkpoint(ranks)
    prev_ckpt = ranks  # last materialized snapshot; at most ONE is retained
    for i in range(1, max_iters + 1):
        nxt = step(ranks)
        new_ckpt = None
        if i % checkpoint_every == 0:
            nxt = iter_checkpoint(nxt)  # eager: state exists after this line
            new_ckpt = nxt
        delta = (
            ranks.select("doc_id", F.col("rank").alias("r_old"))
            .join(nxt.select("doc_id", F.col("rank").alias("r_new")), "doc_id")
            .agg(F.sum(F.abs(F.col("r_new") - F.col("r_old"))).alias("l1"))
            .first()["l1"]
        )
        ranks = nxt
        # The delta above was the last reader of the old snapshot; once
        # the new checkpoint is materialized, drop the old one so a long
        # run holds one rank copy in executor storage, not
        # max_iters/checkpoint_every of them. Must happen AFTER the
        # delta: localCheckpoint truncates lineage, so releasing
        # earlier would orphan the old ranks' only copy mid-read.
        # (DataFrame.unpersist() — the pre-round-15 call here — is a
        # cache-manager no-op on checkpointed frames; the by-id
        # blocking release actually frees the blocks.)
        if new_ckpt is not None:
            release_iter_checkpoint(prev_ckpt)
            prev_ckpt = new_ckpt
        # NULL delta means the join was empty — zero nodes — which is
        # trivially converged, not "keep burning rounds until the
        # budget misdiagnoses it as non-convergence"
        if delta is None or delta <= tol:
            return ranks.select("doc_id", "rank")
    raise RuntimeError(
        f"pagerank did not converge to L1 ≤ {tol} in {max_iters} iters"
    )


def pagerank_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id")
    n = docs.count()
    return pagerank_ranks(docs, _pr_edges(docs, n), n_iters=PR_ITERS)


def _pr_oracle() -> str:
    ctes = []
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        ctes.append(f"""
c{i} AS (
  SELECT e.dst, sum({prev}.rank // d.deg) AS s
  FROM {prev} JOIN edges e ON e.src = {prev}.doc_id
  JOIN outdeg d ON d.src = e.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT v.doc_id,
         {PR_BASE} + ({PR_DAMP_NUM} * coalesce(c{i}.s, 0)) // {PR_DAMP_DEN}
           AS rank
  FROM v LEFT JOIN c{i} ON c{i}.dst = v.doc_id
),""")
        prev = f"r{i}"
    return f"""
WITH v AS (SELECT doc_id FROM documents),
n AS (SELECT count(*) AS n FROM v),
edges AS (
  SELECT doc_id AS src, (doc_id * 31 + j * 7) % n.n AS dst
  FROM v, n, LATERAL unnest(range(1, doc_id % 3 + 2)) AS t(j)
),
outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
r0 AS (SELECT doc_id, {PR_SCALE} AS rank FROM v),{"".join(ctes)}
dummy AS (SELECT 1)
SELECT doc_id, CAST(rank AS BIGINT) AS rank FROM {prev}
"""


PAGERANK_ORACLE = _pr_oracle()

QUERIES.update(
    {
        "pagerank_links": QuerySpec(pagerank_links, PAGERANK_ORACLE),
    }
)


# ---------------------------------------------------------------------------
# Exact substring dedup (round-10): document pairs sharing a VERBATIM
# substring of length >= L at ARBITRARY offsets — the suffix-array
# setting of "Deduplicating Training Data Makes Language Models
# Better" (Lee et al. 2021), re-expressed for Spark as winnowing
# (Schleimer et al. 2003, the MOSS fingerprinter) + an exact gram
# verify:
#
#   1. per doc, k-gram rolling hashes (k=16, one JVM transform);
#   2. winnow with window w = L-k+1 = 25: per window keep the MIN
#      hash; the selected set is ~2n/(w+1) fingerprints (13x fewer
#      rows than stride-1 grams). Window guarantee: any common
#      substring of length >= w+k-1 = L contains ONE window fully
#      inside it in both docs with identical hash arrays, so both
#      select the same min — ZERO false negatives by construction,
#      regardless of hash collisions (collisions only ADD candidates);
#   3. candidate docs = docs holding a fingerprint seen in >= 2 docs
#      (a groupBy-count semi-join — LINEAR, no pair explosion);
#   4. exact verify: stride-1 L-gram self-join WITHIN the candidate
#      doc set only. By the guarantee every true pair's endpoints are
#      candidates, so this equals the oracle's full-corpus gram join
#      while scanning only the (tiny) candidate slice.
#
# 100 TB posture: stages 1-3 are linear scans + one groupBy(fp) with
# map-side combine; all quadratic work is confined to stage 4, whose
# size is the true duplicate structure itself (pair OUTPUT is
# inherently quadratic in a boilerplate cluster — a production
# pipeline would feed these pairs into the connected-components
# keep-list like the other dedup families rather than materialize
# them; the catalog query keeps exact pair semantics for the oracle).
# O(n·w) slice-min per doc is fine at w=25; gigabyte docs would swap
# in a monotonic-deque mapInPandas winnow, same selected set.
# ---------------------------------------------------------------------------

SUBSTR_L = 40   # minimum verbatim match length certified
SUBSTR_K = 16   # rolling-gram width
SUBSTR_W = SUBSTR_L - SUBSTR_K + 1  # winnow window (guarantee t = w+k-1)


def _substring_base(docs: DataFrame) -> DataFrame:
    """(doc_id, t) with text coalesced, fanned out for the winnow map.

    The winnow map is the expensive stage (hash every k-gram +
    O(n·w) slice-min). A small local parquet is ONE row group → one
    scan split → the whole corpus winnows on one core (measured
    9.6 s single-task at sf0.1). Fan out when the scan under-splits;
    at cluster scale the scan has thousands of splits and this is a
    no-op (explicit numPartitions, so AQE won't coalesce it back)."""
    base = docs.select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("t")
    )
    target = docs.sparkSession.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < target:
        base = base.repartition(target, "doc_id")
    return base


def substring_fp_table(
    base: DataFrame, min_len: int = SUBSTR_L, k: int = SUBSTR_K
) -> DataFrame:
    """(doc_id, fp) winnowing fingerprints over a (doc_id, t) base —
    per-doc-distinct min-of-window k-gram hashes, ~2n/(w+1) rows per
    doc. This IS the persisted store schema for incremental substring
    dedup (build once over history, append admitted deltas)."""
    w = min_len - k + 1
    n = F.length("t")
    tcol = F.col("t")
    # k-gram hash array (guarded: sequence() DESCENDS when end < start)
    gh = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.xxhash64(tcol.substr(i, F.lit(k))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    g = base.select("doc_id", gh.alias("gh"))
    winnowed = F.when(
        F.size("gh") >= w,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("gh") - w + 1),
                lambda j: F.array_min(F.slice("gh", j, w)),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return g.select("doc_id", F.explode(winnowed).alias("fp"))


def _l_grams(base_slice: DataFrame, min_len: int) -> DataFrame:
    """(doc_id, gram): per-doc-DISTINCT stride-1 min_len-grams of a
    (doc_id, t) slice — the exact-verify currency — as 64-bit
    xxhash64 values, hashed AFTER the per-doc array_distinct so the
    per-doc gram count is exactly the distinct-string count.

    Hashing is the round-15 shuffle-bytes fix (guide §2.3 "shuffle
    keys and metadata instead of payloads"): the verify join/count
    only ever compares grams for equality, and a ``min_len``-char
    string key (50 B) is ~6× the bytes of its 64-bit hash through the
    window sort, the grid-cell exchange and the pair aggregate
    (measured 102 MB → 17 MB shuffle on dedup_exact_substring at
    sf0.1). Same exactness budget as the candidate stage and the LSH
    verify, both already hash-keyed: a COUNT is off only if two
    DISTINCT grams of one doc (count dip) or of one candidate pair
    (count bump / spurious pair) collide in 64 bits — ≈ g²/2⁶⁵ per
    doc/pair, ~1e-13 at corpus scale, the same odds the winnow
    fingerprint stage already accepts."""
    ct = F.col("t")
    cn = F.length(ct)
    return base_slice.select(
        "doc_id",
        F.explode(
            F.when(
                cn >= min_len,
                F.transform(
                    F.array_distinct(
                        F.transform(
                            F.sequence(F.lit(1), cn - min_len + 1),
                            lambda i: ct.substr(i, F.lit(min_len)),
                        )
                    ),
                    lambda g: F.xxhash64(g),
                ),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("gram"),
    )


def _substring_candidate_slice(
    docs: DataFrame,
    min_len: int = SUBSTR_L,
    k: int = SUBSTR_K,
    scratch: list | None = None,
    fps: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared winnow front-end: → (base, candidate_docs) where base is
    (doc_id, t) for the whole corpus and candidate_docs is the slice
    holding a fingerprint seen in >=2 docs. By the window guarantee
    every doc participating in a cross-doc verbatim match of length
    >= min_len is in the slice — downstream exact stages may confine
    themselves to it.

    ``scratch``: if given, frames THIS call persists are appended so a
    long-lived library caller can unpersist after materializing
    (the incremental_substring_pairs lifecycle); batch/catalog callers
    may ignore it per the catalog-wide clearCache contract."""
    base = _substring_base(docs)
    # persisted: the winnow transform is the expensive map; without
    # the cache the fp-count aggregate, the candidate semi-join, and
    # BOTH sides of the gram self-join each recompute it (4 parquet
    # scans, measured 16.7 s → 5.5 s warm at sf0.1). Lifecycle is
    # caller-owned per the catalog-wide contract (clearCache when
    # done — same as pairgrid) unless scratch collects it.
    # ``fps``: a prebuilt (persisted) substring_fp_table over the same
    # docs — the incremental capstone's signature store, reused here
    # so the winnow map runs once per corpus slice, not per consumer.
    if fps is None:
        fps = substring_fp_table(base, min_len, k).persist()
        if scratch is not None:
            scratch.append(fps)
    # fingerprints seen in >=2 docs -> candidate doc ids (rows are
    # unique per (doc, fp) via array_distinct, so count(*) = doc count)
    shared_fp = (
        fps.groupBy("fp").agg(F.count("*").alias("c")).filter(F.col("c") > 1)
    )
    cand_ids = fps.join(shared_fp, "fp").select("doc_id").distinct()
    # No forced broadcast hint: on a healthy corpus the candidate set
    # is tiny and AQE broadcasts it at runtime; on a heavily
    # boilerplated corpus (exactly this family's target workload) it
    # approaches corpus size and a pinned hint would OOM the driver
    # instead of degrading to a shuffle join (round-10 advice).
    # LEFT SEMI, not inner (round-14 100× study): with an inner join
    # the planner may build on EITHER side, and on the 100-copy
    # corpus it picked the TEXT side — templated text compresses ~10×
    # in parquet, so the file-size estimate looked broadcastable and
    # the driver-side collect blew spark.driver.maxResultSize at
    # ~1 GB deserialized (the whole keep-list died with it). A semi
    # join can only ever build on the id-only candidate table —
    # broadcast when genuinely small, AQE shuffle fallback otherwise,
    # and the text side is structurally never collected. Semantics
    # identical: cand_ids is distinct and doc_id is unique in base.
    return base, base.join(cand_ids, "doc_id", "left_semi")


SUBSTR_GRID_BLOCK = 64  # local-fixture sizing; production ~1024


def exact_substring_pairs(
    docs: DataFrame,
    min_len: int = SUBSTR_L,
    k: int = SUBSTR_K,
    block: int | None = SUBSTR_GRID_BLOCK,
    scratch: list | None = None,
    fps: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, n_shared_grams): all unordered doc pairs sharing
    at least one verbatim ``min_len``-char substring; n_shared_grams
    counts their DISTINCT shared ``min_len``-grams. ``docs`` needs
    (doc_id, text).

    The exact verify is a gram self-join — a bucket key like any
    band/shingle key, and the ONE place in this family where a hot
    gram (a license header or nav bar planted in H candidate docs)
    would funnel H²/2 pair rows through a single task. So it routes
    through the shared pairgrid tiler (``block``-sized cells; each
    row pair meets in exactly one cell, so the per-gram pair MULTISET
    is identical to the plain join and per-pair count(*) still equals
    the distinct shared-gram count — the same oracle certifies both).
    ``block=None`` selects the plain self-join (the un-tiled twin the
    skew study compares against)."""
    _, cd = _substring_candidate_slice(
        docs, min_len, k, scratch=scratch, fps=fps
    )
    if block is not None:
        from finmapreduce_spark.operators.pairgrid import grid_self_pairs

        pairs = grid_self_pairs(
            _l_grams(cd, min_len),
            ["gram"],
            "doc_id",
            [],
            block=block,
            dedupe=False,
            scratch=scratch,
        ).select(
            F.col("doc_id_a").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
        )
    else:
        # plain twin: persisted because both self-join sides read it
        grams = _l_grams(cd, min_len).persist()
        if scratch is not None:
            scratch.append(grams)
        ga, gb = grams.alias("ga"), grams.alias("gb")
        pairs = ga.join(
            gb,
            (F.col("ga.gram") == F.col("gb.gram"))
            & (F.col("ga.doc_id") < F.col("gb.doc_id")),
        ).select(
            F.col("ga.doc_id").alias("doc_a"),
            F.col("gb.doc_id").alias("doc_b"),
        )
    return pairs.groupBy("doc_a", "doc_b").agg(
        F.count("*").cast("long").alias("n_shared_grams")
    )


def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_substring_pairs(_docs(spark, sf_dir))


EXACT_SUBSTRING_ORACLE = f"""
WITH g AS (
  SELECT DISTINCT doc_id, unnest(list_transform(
    range(1, length(coalesce(text, '')) - {SUBSTR_L} + 2),
    i -> substring(coalesce(text, ''), CAST(i AS INT), {SUBSTR_L}))) AS gram
  FROM documents WHERE length(coalesce(text, '')) >= {SUBSTR_L}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared_grams
FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""

QUERIES.update(
    {
        "dedup_exact_substring": QuerySpec(
            dedup_exact_substring, EXACT_SUBSTRING_ORACLE
        ),
    }
)


def substring_duplication_coverage(
    docs: DataFrame,
    min_len: int = SUBSTR_L,
    k: int = SUBSTR_K,
    scratch: list | None = None,
) -> DataFrame:
    """Per-doc substring-duplication coverage — the Lee-2021 trim/drop
    signal: what fraction of each document's characters lies inside a
    verbatim ``min_len``-char substring also present in ANOTHER doc.

    Shape: the winnow front-end confines the positional gram explode
    to the candidate slice (exact — a shared L-gram implies both docs
    are candidates), shared grams are one distinct+groupBy, and the
    covered length is an interval-union sweep: with fixed-length
    intervals [pos, pos+L) sorted per doc, each position contributes
    min(L, next_pos - pos), the last contributes L. One window over
    positions per doc — no interval materialization. (No pair join
    here — the shared-gram reduction is a groupBy + semi-join, linear
    in gram rows, so no grid tiling is needed.)"""
    base, cd = _substring_candidate_slice(docs, min_len, k, scratch=scratch)
    ct = F.col("t")
    cn = F.length(ct)
    gpos = (
        cd.select(
            "doc_id",
            F.posexplode(
                F.when(
                    cn >= min_len,
                    F.transform(
                        F.sequence(F.lit(1), cn - min_len + 1),
                        lambda i: ct.substr(i, F.lit(min_len)),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("p0", "gram"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "gram")
        .persist()  # read by the shared-gram agg AND the position join
    )
    if scratch is not None:
        scratch.append(gpos)
    shared = (
        gpos.select("doc_id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .select("gram")
    )
    pos = gpos.join(shared, "gram").select("doc_id", "pos")
    wdoc = W.partitionBy("doc_id").orderBy("pos")
    covered = (
        pos.withColumn("nxt", F.lead("pos").over(wdoc))
        .withColumn(
            "contrib",
            F.when(F.col("nxt").isNull(), F.lit(min_len)).otherwise(
                F.least(F.lit(min_len), F.col("nxt") - F.col("pos"))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("contrib").cast("long").alias("covered_chars"),
            F.count("*").cast("long").alias("n_dup_positions"),
        )
    )
    nch = F.col("n_chars")
    return (
        base.select("doc_id", F.length("t").cast("long").alias("n_chars"))
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("covered_chars", F.lit(0))
            .cast("long")
            .alias("covered_chars"),
            F.coalesce("n_dup_positions", F.lit(0))
            .cast("long")
            .alias("n_dup_positions"),
            F.when(
                nch > 0,
                F.round(F.coalesce("covered_chars", F.lit(0)) / nch, 6),
            ).alias("dup_coverage"),
        )
    )


def dedup_substring_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_duplication_coverage(_docs(spark, sf_dir))


SUBSTRING_COVERAGE_ORACLE = f"""
WITH g AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         substring(coalesce(text, ''), CAST(i AS INT), {SUBSTR_L}) AS gram
  FROM documents,
       LATERAL unnest(range(1, length(coalesce(text, '')) - {SUBSTR_L} + 2))
         AS t(i)
  WHERE length(coalesce(text, '')) >= {SUBSTR_L}
),
shared AS (
  SELECT gram FROM (
    SELECT gram, count(DISTINCT doc_id) AS c FROM g GROUP BY 1
  ) WHERE c > 1
),
pos AS (SELECT doc_id, pos FROM g JOIN shared USING (gram)),
cov AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_dup_positions,
         CAST(sum(coalesce(least({SUBSTR_L}, nxt - pos), {SUBSTR_L}))
              AS BIGINT) AS covered_chars
  FROM (SELECT doc_id, pos,
               lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        FROM pos)
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(length(coalesce(d.text, '')) AS BIGINT) AS n_chars,
       coalesce(cov.covered_chars, 0) AS covered_chars,
       coalesce(cov.n_dup_positions, 0) AS n_dup_positions,
       CASE WHEN length(coalesce(d.text, '')) > 0
            THEN round(coalesce(cov.covered_chars, 0) * 1.0
                       / length(coalesce(d.text, '')), 6)
       END AS dup_coverage
FROM documents d LEFT JOIN cov ON d.doc_id = cov.doc_id
"""

QUERIES.update(
    {
        "dedup_substring_coverage": QuerySpec(
            dedup_substring_coverage, SUBSTRING_COVERAGE_ORACLE
        ),
    }
)


def exact_substring_spans(
    docs: DataFrame,
    min_len: int = SUBSTR_L,
    k: int = SUBSTR_K,
    scratch: list | None = None,
) -> DataFrame:
    """(doc_a, doc_b, a_start, b_start, span_len): the MAXIMAL
    verbatim spans (>= min_len chars) each unordered doc pair shares —
    what Lee-2021-style trimming actually removes, located by 1-based
    char offset in both documents.

    Shape: the char-level twin of the word-level passage detector —
    positional stride-1 L-grams of the candidate slice join on gram
    (doc_a < doc_b), each match lands on a diagonal (pa - pb), and
    consecutive-position islands per (pair, diagonal) are maximal
    spans: an island of r matched grams covers r + L - 1 chars. A
    gram repeated within a doc matches on several diagonals — each is
    a genuine distinct alignment and reports its own span. Uncapped
    (exactness vs the oracle is the contract here); a production
    ingest would bound per-gram occurrences like the passage family's
    PASSAGE_MAX_OCC before the join.

    The positional gram join is the same hot-gram-skewed self-join as
    exact_substring_pairs', so it routes through the same pairgrid
    tiler (pos as payload; dedupe off — every positional alignment is
    a distinct row, and each left/right row pair meets in exactly one
    cell, so the output multiset equals the plain join's and the same
    oracle certifies it)."""
    from finmapreduce_spark.operators.pairgrid import grid_self_pairs

    _, cd = _substring_candidate_slice(docs, min_len, k, scratch=scratch)
    ct = F.col("t")
    cn = F.length(ct)
    gp = cd.select(
        "doc_id",
        F.posexplode(
            F.when(
                cn >= min_len,
                F.transform(
                    F.sequence(F.lit(1), cn - min_len + 1),
                    lambda i: ct.substr(i, F.lit(min_len)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("p0", "gram"),
    ).select("doc_id", (F.col("p0") + 1).cast("long").alias("pos"), "gram")
    pr = grid_self_pairs(
        gp,
        ["gram"],
        "doc_id",
        ["pos"],
        block=SUBSTR_GRID_BLOCK,
        dedupe=False,
        scratch=scratch,
    ).select(
        F.col("doc_id_a").alias("doc_a"),
        F.col("doc_id_b").alias("doc_b"),
        F.col("pos_a").alias("pa"),
        F.col("pos_b").alias("pb"),
        (F.col("pos_a") - F.col("pos_b")).alias("diag"),
    )
    wd = W.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    isl = pr.withColumn("grp", F.col("pa") - F.row_number().over(wd))
    return (
        isl.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pa").alias("a_start"),
            F.min("pb").alias("b_start"),
            (F.count("*") + F.lit(min_len - 1)).cast("long").alias("span_len"),
        )
        .select("doc_a", "doc_b", "a_start", "b_start", "span_len")
    )


def dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_substring_spans(_docs(spark, sf_dir))


EXACT_SUBSTRING_SPANS_ORACLE = f"""
WITH cg AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         substring(coalesce(text, ''), CAST(i AS INT), {SUBSTR_L}) AS gram
  FROM documents,
       LATERAL unnest(range(1, length(coalesce(text, '')) - {SUBSTR_L} + 2))
         AS t(i)
  WHERE length(coalesce(text, '')) >= {SUBSTR_L}
),
pr AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.pos AS pa, b.pos AS pb, a.pos - b.pos AS diag
  FROM cg a JOIN cg b ON a.gram = b.gram AND a.doc_id < b.doc_id
),
isl AS (
  SELECT doc_a, doc_b, diag, pa, pb,
         pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                 ORDER BY pa) AS grp
  FROM pr
)
SELECT doc_a, doc_b,
       CAST(min(pa) AS BIGINT) AS a_start,
       CAST(min(pb) AS BIGINT) AS b_start,
       CAST(count(*) + {SUBSTR_L} - 1 AS BIGINT) AS span_len
FROM isl GROUP BY doc_a, doc_b, diag, grp
"""

QUERIES.update(
    {
        "dedup_exact_substring_spans": QuerySpec(
            dedup_exact_substring_spans, EXACT_SUBSTRING_SPANS_ORACLE
        ),
    }
)


def dedup_substring_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the verbatim-substring pair graph;
    canonical = min doc_id per component — the document-level
    keep/drop decision for verbatim duplication ("train on one copy",
    Lee et al. 2021), composed from the same O(log n)-round
    large-star/small-star CC the near-dup cluster query uses. Only
    docs participating in at least one pair appear (matching the
    oracle's walk over the edge set)."""
    pairs = dedup_exact_substring(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs)
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).alias("is_canonical"),
    )


SUBSTR_CLUSTER_ORACLE = f"""
WITH RECURSIVE spairs AS ({EXACT_SUBSTRING_ORACLE}),
edges AS (
  SELECT doc_a, doc_b FROM spairs
  UNION ALL
  SELECT doc_b, doc_a FROM spairs
),
walk(doc_id, label) AS (
  SELECT doc_a, doc_a FROM edges
  UNION
  SELECT e.doc_b, w.label FROM walk w JOIN edges e ON e.doc_a = w.doc_id
)
SELECT doc_id, min(label) AS cluster_id,
       doc_id = min(label) AS is_canonical
FROM walk GROUP BY doc_id
"""

QUERIES.update(
    {
        "dedup_substring_clusters": QuerySpec(
            dedup_substring_clusters, SUBSTR_CLUSTER_ORACLE
        ),
    }
)


def dedup_master_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone ship-to-training decision, combining EVERY dedup
    signal this engine computes: edge set = exact content-hash dup
    pairs ∪ MinHash-LSH near-dup pairs (grid, Jaccard-verified) ∪
    SimHash pairs (grid, Hamming-verified) ∪ semantic pairs
    (band-candidates ∘ embedding-cosine gate) ∪ verbatim-substring
    pairs (winnow + exact gram verify) → ONE connected-components
    pass → keep the min-id doc per component. A doc survives only if
    no signal ties it to a smaller-id duplicate by ANY definition of
    duplicate.

    Scale: each edge generator is the already-bounded family operator
    (banded/grid/candidate-sliced — never n²); the union is edge-
    volume-sized; CC is the O(log n)-round star algorithm. This is
    the plan shape a production curation run actually executes."""
    docs = _docs(spark, sf_dir)
    labels = connected_components(_master_edge_union(spark, sf_dir, docs))
    losers = labels.filter(F.col("doc_id") != F.col("label")).select("doc_id")
    return docs.select("doc_id", "lang").join(losers, "doc_id", "left_anti")


def _master_edge_union(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame,
    state: dict | None = None,
    scratch: list | None = None,
) -> DataFrame:
    """The capstone's five-signal edge union over ``docs`` —
    corpus-subset-parametric so the incremental twin can run it over
    the history and delta slices independently.

    ``state``: this slice's prebuilt signature stores
    (master_history_state over the SAME ``docs``) — the incremental
    capstone derives the corpus signatures once and feeds this pair
    join (and, on the production probe path, the cross probe) from
    them (round-15: the signature pipeline used to run twice per
    slice). Pair semantics are identical either way: each lane
    consumes exactly the table it would have derived itself.

    ``scratch``: collects every frame the lanes persist beyond the
    ``state`` tables themselves (the grid tilers' indexed bucket
    tables), so a caller that materializes the union once can release
    this call's entire footprint mid-query (the staged-lane
    lifecycle)."""
    if state is not None:
        hashed, keepers = state["hashed"], state["keepers"]
    else:
        hashed, keepers = _content_hash_keepers(docs)
    exact_edges = (
        hashed.join(keepers, "content_hash")
        .filter(F.col("doc_id") != F.col("keeper"))
        .select(
            F.col("keeper").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
    )
    from finmapreduce_spark.operators.pairgrid import grid_self_pairs

    def _banded_cand(buckets):
        """ONE grid-tiled candidate build shared by the MinHash-LSH
        and semantic lanes — their band keys are identical by shared
        definition (round-16; see master_history_state), so the two
        lanes differ only in the verify gate. Persisted: both
        verifies read it."""
        c = grid_self_pairs(
            buckets.select("doc_id", "band_id", "key"),
            ["band_id", "key"],
            "doc_id",
            [],
            block=LSH_GRID_BLOCK,
            scratch=scratch,
        ).select(
            F.col("doc_id_a").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
        ).persist()
        if scratch is not None:
            scratch.append(c)
        return c

    if state is not None:
        lsh_b = state["lsh_buckets"]
        cand = _banded_cand(lsh_b)
        return (
            exact_edges.unionByName(
                _jaccard_verify(
                    _attach_shingle_sets(cand, lsh_b)
                ).select("doc_a", "doc_b")
            )
            .unionByName(
                dedup_simhash_pairs_grid(
                    spark,
                    sf_dir,
                    bands=state["simhash_bands"],
                    scratch=scratch,
                ).select("doc_a", "doc_b")
            )
            .unionByName(
                dedup_semantic_verify(
                    spark,
                    sf_dir,
                    emb=state["embeddings"],
                    cand=cand,
                ).select("doc_a", "doc_b")
            )
            .unionByName(
                exact_substring_pairs(
                    docs, fps=state["substring_fps"], scratch=scratch
                ).select("doc_a", "doc_b")
            )
            .distinct()
        )
    # ONE scan→split→shingle pipeline shared by the LSH, SimHash and
    # semantic lanes (round-10 candidate (a): each lane used to
    # rebuild it — three extra corpus scans at 100 TB), and ONE
    # bucket table + candidate build shared by the LSH and semantic
    # lanes. Persisted so the lanes' downstream derivations all read
    # the cache; lifecycle is caller-owned per the catalog-wide
    # clearCache contract.
    shingled = with_shingles(docs).persist()
    buckets = _lsh_band_buckets(spark, sf_dir, shingled=shingled)
    cand = _banded_cand(buckets)
    return (
        exact_edges.unionByName(
            _jaccard_verify(
                _attach_shingle_sets(cand, buckets)
            ).select("doc_a", "doc_b")
        )
        .unionByName(
            dedup_simhash_pairs_grid(
                spark, sf_dir, shingled=shingled
            ).select("doc_a", "doc_b")
        )
        .unionByName(
            dedup_semantic_verify(
                spark, sf_dir, shingled=shingled, cand=cand
            ).select("doc_a", "doc_b")
        )
        .unionByName(exact_substring_pairs(docs).select("doc_a", "doc_b"))
        .distinct()
    )


DEDUP_MASTER_KEEP_ORACLE = f"""
WITH RECURSIVE
{_EXACT_HASH_CTES},
edges0 AS (
  SELECT keeper AS doc_a, doc_id AS doc_b
  FROM hashed JOIN keepers USING (content_hash) WHERE doc_id <> keeper
  UNION
  SELECT doc_a, doc_b FROM ({DEDUP_LSH_ORACLE})
  UNION
  SELECT doc_a, doc_b FROM ({DEDUP_SIMHASH_PAIRS_ORACLE})
  UNION
  SELECT doc_a, doc_b FROM ({DEDUP_SEMANTIC_ORACLE})
  UNION
  SELECT doc_a, doc_b FROM ({EXACT_SUBSTRING_ORACLE})
),
edges AS (
  SELECT doc_a, doc_b FROM edges0
  UNION ALL
  SELECT doc_b, doc_a FROM edges0
),
walk(doc_id, label) AS (
  SELECT doc_a, doc_a FROM edges
  UNION
  SELECT e.doc_b, w.label FROM walk w JOIN edges e ON e.doc_a = w.doc_id
),
losers AS (
  SELECT doc_id FROM walk GROUP BY doc_id HAVING doc_id <> min(label)
)
SELECT doc_id, lang FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM losers)
"""

QUERIES.update(
    {
        "dedup_master_keep_list": QuerySpec(
            dedup_master_keep_list, DEDUP_MASTER_KEEP_ORACLE
        ),
    }
)


def dedup_master_keep_list_staged(
    spark: SparkSession, sf_dir: str, stage_dir: str | None = None
) -> DataFrame:
    """The master keep-list with each edge lane MATERIALIZED (at most
    two lanes in flight) before the union+CC — the shape a production
    curation run takes at full corpus scale, for three reasons found
    by the round-14/15 scale studies:

    1. Scratch-disk ceiling: the inline composition keeps all five
       lanes' shuffle files live inside ONE distinct() job, and at
       100× that exceeded a single box's scratch (ENOSPC, SCALE.md
       round-14 ledger). Staging materializes a lane, drops its
       refs, and nudges the ContextCleaner so its shuffle files can
       be reclaimed — peak scratch is max(adjacent lane pair) + pair
       tables instead of sum(lanes) (round-16: the pool of two trades
       a bounded scratch increase for guide-§2.6 tail back-fill; the
       strictly-sequential form idled the cluster on every lane's
       straggler tail).
    2. Honest statistics: the CC phase reads back materialized pair
       tables, so every downstream join plans from REAL sizes instead
       of explode-underestimated pipeline estimates (the 12.9 GiB
       mis-broadcast class).
    3. Reusable artifacts: per-signal pair tables are exactly what an
       incremental curation pipeline diffs, audits, and re-clusters
       without recomputing signatures.

    Result-identical to dedup_master_keep_list (same oracle): lanes,
    union-distinct, CC, and the anti-join are unchanged — only the
    materialization boundary moves.

    ``stage_dir=None`` (the default catalog/bench path) hands each
    lane's pair table to the CC phase as an eager persist+count
    instead of a parquet round-trip (round-16, guide §5: the cheaper
    intra-query handoff when the artifact itself is not wanted, and
    handle-owned release stays trivially safe under the concurrent
    lane scheduling). Pass ``stage_dir`` to keep the production
    parquet artifacts (reason 3 above).
    """
    import gc as _gc

    docs = _docs(spark, sf_dir)

    def exact_lane():
        hashed, keepers = _content_hash_keepers(docs)
        return (
            hashed.join(keepers, "content_hash")
            .filter(F.col("doc_id") != F.col("keeper"))
            .select(
                F.col("keeper").alias("doc_a"), F.col("doc_id").alias("doc_b")
            )
        )

    # ONE scan→split→shingle pipeline shared by the LSH/SimHash/
    # semantic lanes, exactly as the inline _master_edge_union does
    # (round-15: the first staged version rebuilt it per lane — three
    # corpus scans + three shingle builds, the single largest cost of
    # the staged composition at sf0.1). Staging's scratch-relief
    # property survives: each lane's OWN persisted state (signature
    # tables, grid index) is released via ``scratch`` right after its
    # pair table lands in parquet, so concurrent-shuffle peak is still
    # max(lane), and only the shared shingle cache — ~corpus-sized,
    # MEMORY_AND_DISK, strictly less than what the inline composition
    # holds — spans the three signature lanes. It is dropped before
    # the scratch-heaviest lane (substring) starts.
    shingled = with_shingles(docs).persist()
    shared_scratch: list = []
    # ONE bucket table + ONE grid candidate build shared by the LSH
    # and semantic lanes (their band keys are identical by shared
    # definition — see master_history_state); released with the other
    # shared signature state once its consumer lanes are done.
    from finmapreduce_spark.operators.pairgrid import grid_self_pairs

    buckets = _lsh_band_buckets(spark, sf_dir, shingled=shingled)
    cand = grid_self_pairs(
        buckets.select("doc_id", "band_id", "key"),
        ["band_id", "key"],
        "doc_id",
        [],
        block=LSH_GRID_BLOCK,
        scratch=shared_scratch,
    ).select(
        F.col("doc_id_a").alias("doc_a"),
        F.col("doc_id_b").alias("doc_b"),
    ).persist()
    # built once, up front: left lazy, the two lanes that read it would
    # both block on its first build, each under its own lane label
    spark.sparkContext.setJobDescription("keep-list stage: shared candidates")
    cand.count()
    spark.sparkContext.setJobDescription(None)

    def run_lane(item):
        """Build + materialize one lane, then release ITS OWN scratch
        (blocking). The handoff is parquet when stage_dir is given
        (the production artifact), an eager persist+count otherwise —
        the pair table is handle-owned, so release needs no
        checkpoint-id attribution and stays safe under the
        concurrent-lane scheduling below. Job descriptions are
        thread-local, so each in-flight lane is labelled in the UI."""
        name, build = item
        spark.sparkContext.setJobDescription(f"keep-list stage: {name}")
        scratch: list = []
        df = build(scratch).select("doc_a", "doc_b")
        if stage_dir is not None:
            df.write.mode("overwrite").parquet(f"{stage_dir}/{name}")
            out = spark.read.parquet(f"{stage_dir}/{name}")
        else:
            out = df.persist()
            out.count()
        for fr in scratch:
            fr.unpersist(True)
        spark.sparkContext.setJobDescription(None)
        return out

    # Lanes run AT MOST TWO in flight (guide §2.6 "overlap independent
    # jobs": FIFO scheduling back-fills the current lane's straggler
    # tail with the next lane's tasks — round-16: the strictly
    # sequential form serialized five materialization barriers, ~4 s
    # of idle tail at sf0.1 and the same idle fraction on a cluster).
    # Peak scratch becomes max(adjacent lane pair) instead of
    # max(lane) — still far under the sum(lanes) that ENOSPC'd the
    # r14 100× inline composition; the pool size is the §2.6
    # recommendation, not a core-count tunable. Per-lane scratch
    # lists keep a lane's release from touching an in-flight
    # sibling's state; the shared signature tables (shingles,
    # buckets, candidates) are released at the group boundaries
    # below.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        first = list(
            pool.map(
                run_lane,
                [
                    (
                        "lsh",
                        lambda s: _jaccard_verify(
                            _attach_shingle_sets(cand, buckets)
                        ),
                    ),
                    (
                        "semantic",
                        lambda s: dedup_semantic_verify(
                            spark,
                            sf_dir,
                            shingled=shingled,
                            cand=cand,
                            scratch=s,
                        ),
                    ),
                    (
                        "simhash",
                        lambda s: dedup_simhash_pairs_grid(
                            spark, sf_dir, shingled=shingled, scratch=s
                        ),
                    ),
                ],
            )
        )
    for fr in (cand, buckets, shingled, *shared_scratch):
        fr.unpersist(True)
    _gc.collect()
    spark.sparkContext._jvm.System.gc()
    with ThreadPoolExecutor(max_workers=2) as pool:
        second = list(
            pool.map(
                run_lane,
                [
                    ("exact", lambda s: exact_lane()),
                    (
                        "substring",
                        lambda s: exact_substring_pairs(docs, scratch=s),
                    ),
                ],
            )
        )
    _gc.collect()
    spark.sparkContext._jvm.System.gc()
    staged = first + second
    edges = reduce(lambda a, b: a.unionByName(b), staged).distinct()
    labels = connected_components(edges)
    losers = labels.filter(F.col("doc_id") != F.col("label")).select("doc_id")
    out = docs.select("doc_id", "lang").join(losers, "doc_id", "left_anti")
    if stage_dir is None:
        # CC's output is checkpoint-backed; the pair-table caches feed
        # nothing in the returned plan. Lineage is intact (persist,
        # not checkpoint), so this release is safe even against a
        # late re-read.
        for df in staged:
            df.unpersist()
    return out


QUERIES.update(
    {
        "dedup_master_keep_list_staged": QuerySpec(
            dedup_master_keep_list_staged, DEDUP_MASTER_KEEP_ORACLE
        ),
    }
)


def master_history_state(
    spark: SparkSession, sf_dir: str, hist: DataFrame,
    scratch: list | None = None,
) -> dict:
    """The per-lane signature stores the incremental capstone probes —
    the PERSISTABLE "previous run" state (each value is a DataFrame in
    an existing store schema; a production pipeline writes these to
    parquet next to the staged pair tables and the label table, and
    per-ingest cost then depends on the DELTA only).

    Keys: ``hashed`` (doc_id → content_hash), ``keepers``
    (content_hash → min-id keeper), ``lsh_buckets``
    (band_signature_table / _lsh_band_buckets schema), ``simhash_bands``
    (doc_id, sim, k, bv), ``semantic_buckets`` (doc_id, band_id, key),
    ``embeddings`` (doc_id, e, nm), ``substring_fps`` (doc_id, fp —
    substring_fp_table, already the streaming store schema).

    Every table is persisted: the incremental capstone reads each one
    from BOTH its slice-internal pair join (_master_edge_union with
    ``state=``) and the cross probe — round-15 measurement: deriving
    the slice signatures once here instead of once per consumer
    (shingle pipeline ×3, minhash/simhash votes ×2, embedding UDF ×2,
    winnow map ×2) was the single largest cost of the incremental
    lane. Lifecycle is caller-owned (clearCache), catalog-wide.

    ``scratch``: if given, the persisted shingle table the stores are
    derived from (not itself a store) is appended to it, so a caller
    that releases its state before later phases releases this too."""
    sh_hist = with_shingles(hist).persist()
    if scratch is not None:
        scratch.append(sh_hist)
    hashed, keepers = _content_hash_keepers(hist)
    lsh_b = _lsh_band_buckets(spark, sf_dir, shingled=sh_hist)
    return {
        "hashed": hashed.persist(),
        "keepers": keepers.persist(),
        "lsh_buckets": lsh_b,
        "simhash_bands": _simhash_pair_bands(
            spark, sf_dir, shingled=sh_hist
        ),
        # The semantic lane's band keys ARE the LSH lane's
        # (_semantic_buckets uses the identical _minhash_cols +
        # _band_exprs over the same shingles) — derive the store as a
        # projection of the persisted LSH bucket table instead of
        # re-running the whole minhash pass (round-16, guide §1.2
        # "don't compute things twice"; value-identical by shared
        # definition, and _master_edge_union shares the candidate
        # pair build between the two lanes for the same reason).
        "semantic_buckets": lsh_b.select("doc_id", "band_id", "key"),
        "embeddings": _hashing_bow_embeddings(sh_hist).persist(),
        "substring_fps": substring_fp_table(_substring_base(hist)).persist(),
    }


def _master_cross_edges(
    spark: SparkSession,
    sf_dir: str,
    delta: DataFrame,
    hist: DataFrame,
    state: dict | None = None,
    delta_state: dict | None = None,
) -> DataFrame:
    """Delta×history edges for every capstone signal: each lane's
    pair criterion is a pure pairwise function of per-doc signatures
    (content hash, LSH band keys + shingle Jaccard, SimHash bands +
    Hamming, MinHash bands + hashing-BoW cosine, winnow fingerprints
    + gram verify), so probing the delta's signature tables against
    the history's finds exactly the cross pairs the full-corpus lane
    join would — the decomposition the incremental capstone rests on.

    ``state``: prebuilt history stores (master_history_state) — the
    production path, where history signatures were persisted by the
    previous run and only the delta derives signatures this ingest.
    Omitted, they are derived here (the self-contained catalog path).

    Scale: every probe is the banded/fingerprint equi-join of its
    batch lane with the DELTA on the build-friendly side — per-ingest
    cost is |delta| signature work × bucket-hit-rate, never a corpus
    self-join; the substring probe routes through the rectangular
    pairgrid tiler exactly like the streaming store twin. (The gram
    VERIFY reads the text of fp-hit docs on both sides — hit-rate
    bounded, and the only part of the probe that touches history
    text.)"""
    if state is None:
        state = master_history_state(spark, sf_dir, hist)
    # ``delta_state``: the delta slice's prebuilt signature stores
    # (master_history_state over ``delta``) — shared with the delta's
    # internal edge union by the incremental capstone so the delta
    # signatures too are derived exactly once per ingest.
    if delta_state is not None:
        d_hashed = delta_state["hashed"]
        ld = delta_state["lsh_buckets"]
        sd = delta_state["simhash_bands"]
        emb_d = delta_state["embeddings"]
        delta_fps = delta_state["substring_fps"]
    else:
        sh_delta = with_shingles(delta).persist()
        d_hashed = _content_hash_keepers(delta)[0]
        ld = _lsh_band_buckets(spark, sf_dir, shingled=sh_delta)
        sd = _simhash_pair_bands(spark, sf_dir, shingled=sh_delta)
        emb_d = _hashing_bow_embeddings(sh_delta).persist()
        delta_fps = None

    # exact: connect every delta doc to the history keeper of its
    # content hash (null hashes drop out of the equi-join, matching
    # the batch lane's null-unsafe join semantics)
    exact_cross = d_hashed.join(state["keepers"], "content_hash").select(
        F.col("keeper").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )

    # MinHash/LSH: band-key probe + the lane's exact Jaccard verify.
    # The probe join moves ids only; the hashed-shingle verify
    # payloads attach once afterwards from each side's band-0 store
    # slice (round-16, the cross-probe twin of _attach_shingle_sets —
    # the arrays used to ride the probe exchange and the candidate
    # dedup for every band hit).
    lh = state["lsh_buckets"]
    lsh_cand = (
        ld.alias("l")
        .join(
            lh.alias("r"),
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.key") == F.col("r.key")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    lsh_pairs = (
        lsh_cand.hint("merge")
        .join(
            ld.filter(F.col("band_id") == 0).select(
                F.col("doc_id").alias("doc_a"),
                F.col("shingles").alias("sh_a"),
            ),
            "doc_a",
        )
        .hint("merge")
        .join(
            lh.filter(F.col("band_id") == 0).select(
                F.col("doc_id").alias("doc_b"),
                F.col("shingles").alias("sh_b"),
            ),
            "doc_b",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    lsh_cross = (
        lsh_pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )

    # SimHash: band probe + popcount verify
    sh_ = state["simhash_bands"]
    sim_cand = (
        sd.alias("l")
        .join(
            sh_.alias("r"),
            (F.col("l.k") == F.col("r.k"))
            & (F.col("l.bv") == F.col("r.bv")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.sim").alias("sim_a"),
            F.col("r.sim").alias("sim_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("long")
    sim_cross = (
        sim_cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .select("doc_a", "doc_b")
    )

    # semantic: MinHash-band probe + hashing-BoW cosine gate. The
    # semantic band keys are the LSH lane's by shared definition
    # (see master_history_state), so the probe's candidate id pairs
    # ARE lsh_cand — reuse them instead of re-joining the projected
    # semantic store.
    sem_cand = lsh_cand
    emb_h = state["embeddings"]
    sem_pairs = sem_cand.join(
        emb_d.alias("a"), sem_cand.doc_a == F.col("a.doc_id")
    ).join(emb_h.alias("b"), sem_cand.doc_b == F.col("b.doc_id"))
    cos = F.round(
        F.when(
            F.col("a.nm") * F.col("b.nm") > 0,
            _dot(F.col("a.e"), F.col("b.e")) / (F.col("a.nm") * F.col("b.nm")),
        ).otherwise(F.lit(0.0)),
        6,
    )
    sem_cross = (
        sem_pairs.withColumn("cosine", cos)
        .filter(F.col("cosine") >= SEMANTIC_COSINE_MIN)
        .select("doc_a", "doc_b")
    )

    # verbatim substring: the delta winnows itself and probes the
    # history fingerprint store (window guarantee: no shared
    # >=min_len substring is missed)
    sub_cross = incremental_substring_pairs(
        delta.select("doc_id", "text"),
        hist.select("doc_id", "text"),
        history_fps=state["substring_fps"],
        incoming_fps=delta_fps,
    ).select(
        F.col("hist_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )

    return (
        exact_cross.unionByName(lsh_cross)
        .unionByName(sim_cross)
        .unionByName(sem_cross)
        .unionByName(sub_cross)
        .distinct()
    )


def dedup_master_keep_list_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The capstone keep-list, recomputed INCREMENTALLY after an
    ingest — and provably identical to the full recompute (it carries
    the capstone's exact oracle).

    The catalog-wide ingest split (doc_id % INGEST_MOD == 0 is the
    incoming batch) simulates the production state: the history slice
    stands for the PREVIOUS run, compressed to its component labels
    (in production: the persisted label table next to the staged pair
    tables); the delta then contributes only (a) its own internal
    edges and (b) cross probes against the history signature stores.
    CC warm-starts from the history's STAR EDGES (label → member),
    which preserve the old components exactly, so the iterative work
    is proportional to the NEW edges, not the corpus pair volume.

    Exactness argument (why the full-recompute oracle certifies this
    path): every lane's pair rule depends only on the two docs'
    own signatures, so full-corpus edges decompose exactly into
    hist-internal ∪ cross ∪ delta-internal; replacing hist-internal
    edges by the previous labels' star edges preserves connectivity;
    and min-doc-id labels are stable under component merges (an old
    label IS the min id of its old component, so the merged
    component's min over {old labels} ∪ {delta ids} equals its true
    min). Reference parity: the reference recomputes from scratch
    per run (no incremental path exists there); this entry is the
    100 TB posture where re-pairing the full corpus per ingest is
    not an option.

    Round-16 structure (same oracle, same output): the self-contained
    catalog/bench path derives the "previous run" as a DECLARED STAGED
    PREDECESSOR inside the query — ONE full-corpus signature store and
    ONE five-lane pair pass (exactly the tables a staged curation run
    persists), materialized once and split by the ingest predicate
    into history-internal edges (both endpoints in history — the
    previous run's pair tables) and NEW edges (at least one delta
    endpoint — what the production cross/internal probes of the delta
    against the store return). Round 15 ran the five pair joins THREE
    times (hist², delta², delta×hist probes — the same total pair
    work as one full-corpus pass, plus two extra rounds of per-lane
    join overhead) and re-derived each slice's signatures separately
    (two corpus scans). Nothing is cached across runs: every bench
    trial rebuilds store, pair tables and labels from the parquet
    inputs. The production probe path (prebuilt history stores +
    per-delta signatures) remains `_master_cross_edges(state=...)`,
    pinned equal to the self-contained derivation by
    tests/test_master_incremental.py.

    The ingest merge is the label-CONTRACTION form of the round-15
    star-edge warm start: old components are contracted to their
    label node (new-edge endpoints map through the history labels,
    unlabeled docs map to themselves), CC runs over the NEW edges
    only, and the keep decision needs no relabeling join — a doc is
    dropped iff it lost in the previous run (its history label is
    smaller) or its contracted node lost in the merge CC. Exactness:
    star edges make each old component a connected blob, so
    contracting it preserves the full graph's connectivity 1:1; an
    old label IS the min doc_id of its old chunk and every other
    contracted node is its own doc_id, so the merge component's min
    over contracted nodes equals its true min doc_id. The iterative
    work is proportional to the NEW edge volume — the star rounds
    never re-walk the history graph."""
    from finmapreduce_spark.operators.checkpoints import (
        iter_checkpoint,
        release_iter_checkpoint,
    )

    docs = _docs(spark, sf_dir)
    # The staged predecessor, derived inside the timed query: one
    # signature store + one pair pass over the whole corpus.
    scratch: list = []
    state = master_history_state(spark, sf_dir, docs, scratch=scratch)
    all_edges = iter_checkpoint(
        _master_edge_union(spark, sf_dir, docs, state=state, scratch=scratch)
    )
    # The stores fed the pair pass only — release them (blocking)
    # before the CC phases so label work never runs under the
    # signature tables' memory pressure (the staged lane's scratch
    # discipline; all_edges is an eager checkpoint, nothing re-reads
    # the released lineage).
    for fr in (*state.values(), *scratch):
        fr.unpersist(True)
    is_delta_a = F.pmod(F.col("doc_a"), F.lit(INGEST_MOD)) == 0
    is_delta_b = F.pmod(F.col("doc_b"), F.lit(INGEST_MOD)) == 0
    # the "previous run": labels over the history-internal subgraph
    hist_labels = connected_components(
        all_edges.filter(~is_delta_a & ~is_delta_b)
    )
    new_edges = all_edges.filter(is_delta_a | is_delta_b)
    # ingest merge: contract old components to their label node and
    # run CC over the new edges only (endpoints in disjoint slices
    # can never contract to the same node, so no self-loops appear)
    la = hist_labels.select(
        F.col("doc_id").alias("doc_a"), F.col("label").alias("__la")
    )
    lb = hist_labels.select(
        F.col("doc_id").alias("doc_b"), F.col("label").alias("__lb")
    )
    contracted = (
        new_edges.join(la, "doc_a", "left")
        .join(lb, "doc_b", "left")
        .select(
            F.coalesce("__la", "doc_a").alias("doc_a"),
            F.coalesce("__lb", "doc_b").alias("doc_b"),
        )
    )
    merge_labels = connected_components(contracted)
    losers = (
        hist_labels.filter(F.col("doc_id") != F.col("label"))
        .select("doc_id")
        .unionByName(
            merge_labels.filter(F.col("doc_id") != F.col("label")).select(
                "doc_id"
            )
        )
    )
    out = docs.select("doc_id", "lang").join(losers, "doc_id", "left_anti")
    # Both CC results are eagerly checkpointed internally; the pair
    # table is no longer referenced by the returned plan — release it.
    release_iter_checkpoint(all_edges)
    return out


QUERIES.update(
    {
        "dedup_master_keep_list_incremental": QuerySpec(
            dedup_master_keep_list_incremental, DEDUP_MASTER_KEEP_ORACLE
        ),
    }
)


def incremental_substring_pairs(
    incoming: DataFrame,
    history: DataFrame,
    min_len: int = SUBSTR_L,
    k: int = SUBSTR_K,
    history_fps: DataFrame | None = None,
    scratch: list | None = None,
    incoming_fps: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, hist_id, n_shared_grams): which incoming docs share a
    verbatim >=min_len substring with the EXISTING corpus — the
    ingest-time complement of exact_substring_pairs, same lifecycle
    as the other incremental families (band-signature / passage-gram
    stores): history's fingerprint table is built once and persisted
    (substring_fp_table IS the store schema), each delta winnows
    itself and probes the store, and only fp-hit docs on EITHER side
    pay the exact gram verify. Per-ingest cost is |delta| winnow +
    probe × hit rate — never a corpus self-join, and the window
    guarantee makes the probe miss nothing >= min_len.

    ``history_fps``: pass the persisted store (substring_fp_table over
    history) to skip rebuilding it per call — the streaming twin
    (streaming/pipeline.py::serve_incremental_substring) builds it
    once and probes it every epoch.

    ``scratch``: if given, every DataFrame THIS call persists is
    appended to it so a long-lived caller (a per-epoch foreachBatch)
    can unpersist after materializing — clearCache() is not an option
    there because it would evict the shared store (round-10 review:
    without this, each micro-batch leaked its delta fp table and hit
    join until storage OOM). Batch/catalog callers may ignore it per
    the catalog-wide clearCache contract."""
    bi = _substring_base(incoming)
    bh = _substring_base(history)
    created = scratch if scratch is not None else []
    # ``incoming_fps``: prebuilt delta fp store (the incremental
    # capstone's delta_state) — skips re-winnowing the delta here.
    if incoming_fps is not None:
        fi = incoming_fps
    else:
        fi = substring_fp_table(bi, min_len, k).persist()
        created.append(fi)
    if history_fps is not None:
        fh = history_fps
    else:
        fh = substring_fp_table(bh, min_len, k).persist()
        created.append(fh)
    hits = fi.join(
        fh.select(F.col("doc_id").alias("hist_id"), "fp"), "fp"
    ).persist()
    created.append(hits)
    inc_ids = hits.select("doc_id").distinct()
    hist_ids = hits.select(F.col("hist_id").alias("doc_id")).distinct()
    # no forced broadcast hints: on a boilerplate-heavy ingest the
    # hit-doc sets approach corpus size and a pinned hint would OOM
    # the driver; AQE broadcasts them at runtime when they ARE small
    # (the same round-10 advice applied to the batch candidate slice)
    gi = _l_grams(bi.join(inc_ids, "doc_id"), min_len)
    gh = _l_grams(bh.join(hist_ids, "doc_id"), min_len).select(
        F.col("doc_id").alias("hist_id"), "gram"
    )
    # delta×history gram verify through the RECTANGULAR tiler: a
    # boilerplate gram hot on both sides (H_i incoming × H_h history
    # rows) would otherwise funnel H_i·H_h pair rows through one join
    # key — the cross-join form of the self-join funnel the batch
    # path guards with grid_self_pairs. Multiset-identical to the
    # plain join, so the same oracle certifies it.
    from finmapreduce_spark.operators.pairgrid import grid_cross_pairs

    pairs = grid_cross_pairs(
        gi,
        gh,
        ["gram"],
        "doc_id",
        "hist_id",
        block=SUBSTR_GRID_BLOCK,
        scratch=created,
    )
    return pairs.groupBy("doc_id", "hist_id").agg(
        F.count("*").cast("long").alias("n_shared_grams")
    )


def dedup_incremental_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incoming batch = doc_id % INGEST_MOD == 0 (the catalog-wide
    ingest-split convention); history = the rest."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    incoming = docs.filter(F.pmod("doc_id", F.lit(INGEST_MOD)) == 0)
    history = docs.filter(F.pmod("doc_id", F.lit(INGEST_MOD)) != 0)
    return incremental_substring_pairs(incoming, history)


DEDUP_INC_SUBSTRING_ORACLE = f"""
WITH g AS (
  SELECT DISTINCT doc_id, unnest(list_transform(
    range(1, length(coalesce(text, '')) - {SUBSTR_L} + 2),
    i -> substring(coalesce(text, ''), CAST(i AS INT), {SUBSTR_L}))) AS gram
  FROM documents WHERE length(coalesce(text, '')) >= {SUBSTR_L}
)
SELECT gi.doc_id AS doc_id, gh.doc_id AS hist_id,
       CAST(count(*) AS BIGINT) AS n_shared_grams
FROM (SELECT * FROM g WHERE doc_id % {INGEST_MOD} = 0) gi
JOIN (SELECT * FROM g WHERE doc_id % {INGEST_MOD} <> 0) gh
  ON gi.gram = gh.gram
GROUP BY 1, 2
"""

QUERIES.update(
    {
        "dedup_incremental_substring": QuerySpec(
            dedup_incremental_substring, DEDUP_INC_SUBSTRING_ORACLE
        ),
    }
)


# ---------------------------------------------------------------------------
# URL-level dedup + host frontier ranking (round-11 frontier item —
# the crawl-side curation pair RefinedWeb/CCNet run BEFORE content
# dedup: normalize URLs, collapse exact-URL duplicates, then rank
# HOSTS by accumulated page quality to prioritize the crawl frontier).
# The corpus has no real URLs, so raw URLs are synthesized
# deterministically per doc with realistic mess — scheme case, www
# prefix, default :443 port, trailing slash, tracking params — and
# the OPERATOR (the canonicalization pipeline + dedup + host rollup ∘
# pagerank composition) is what the catalog certifies, same posture
# as the synthesized link graph above.
#
# Canonicalization is a pure JVM string projection (zero shuffle);
# the dedup is one uniform-key groupBy on the canonical URL; the
# frontier rank joins the |hosts|-row rollup with the integer-exact
# PageRank — all-integer ranks keep both engines bit-identical.
# Engine-parity constraint: every regex is RE2-safe (no lookahead —
# DuckDB is RE2; Java regex would accept more) and every backref-free.
# ---------------------------------------------------------------------------


def _doc_urls(docs: DataFrame) -> DataFrame:
    """(doc_id, url_raw, url_canonical): deterministic messy URL per
    doc + its canonical form. Raw mess varies WITHIN a canonical
    group (www/slash/port keyed on moduli coprime to the collision
    modulus 80), so normalization does real merging work."""
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    raw = F.concat(
        F.when(d % 2 == 0, F.lit("https")).otherwise(F.lit("HTTPS")),
        F.lit("://"),
        F.when(d % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("h"), s(d % 5), F.lit(".example.com"),
        F.when(d % 11 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/p"), s(d % 16),
        F.when(d % 9 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.lit("?utm_source=feed&utm_campaign=x"))
        .when(d % 8 == 1, F.lit("?page=2"))
        .when(d % 8 == 5, F.lit("?page=2&utm_source=feed"))
        .otherwise(F.lit("")),
    )
    u = F.lower(raw)
    u = F.regexp_replace(u, r"[?&]utm_[a-z_]*=[^&#]*", "")
    u = F.replace(u, F.lit(":443/"), F.lit("/"))
    u = F.replace(u, F.lit("://www."), F.lit("://"))
    u = F.replace(u, F.lit("/?"), F.lit("?"))
    u = F.regexp_replace(u, r"/$", "")
    return docs.select("doc_id", raw.alias("url_raw"), u.alias("url_canonical"))


def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(url_canonical, keeper_doc_id, n_copies): exact-URL dedup after
    canonicalization — the keep-min-doc rule on the normalized URL
    (dedup_exact's shape, with the hash swapped for the canonical
    string). Docs collide exactly when host, path, and surviving
    query agree (mod-80 classes in the synthesized mess)."""
    urls = _doc_urls(_docs(spark, sf_dir))
    return urls.groupBy("url_canonical").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count("*").cast("long").alias("n_copies"),
    )


_URLS_SQL = """
SELECT doc_id, url_raw,
       regexp_replace(
         replace(replace(replace(
           regexp_replace(lower(url_raw), '[?&]utm_[a-z_]*=[^&#]*', '', 'g'),
           ':443/', '/'), '://www.', '://'), '/?', '?'),
         '/$', '') AS url_canonical
FROM (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END)
         || '://'
         || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
         || 'h' || CAST(doc_id % 5 AS VARCHAR) || '.example.com'
         || (CASE WHEN doc_id % 11 = 0 THEN ':443' ELSE '' END)
         || '/p' || CAST(doc_id % 16 AS VARCHAR)
         || (CASE WHEN doc_id % 9 = 0 THEN '/' ELSE '' END)
         || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&utm_campaign=x'
                  WHEN doc_id % 8 = 1 THEN '?page=2'
                  WHEN doc_id % 8 = 5 THEN '?page=2&utm_source=feed'
                  ELSE '' END) AS url_raw
  FROM documents
)
"""

DEDUP_URL_ORACLE = f"""
WITH urls AS ({_URLS_SQL})
SELECT url_canonical, min(doc_id) AS keeper_doc_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM urls GROUP BY 1
"""


def host_frontier_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(host, n_docs, n_urls, total_rank, frontier_order): the crawl-
    frontier priority table — per host, doc and unique-canonical-URL
    counts, plus the summed integer PageRank of the host's URL-dedup
    KEEPER docs (quality mass accrues once per unique page, not per
    duplicate fetch), ranked descending with host-asc tiebreak.

    Composition: _doc_urls (zero-shuffle projection) → URL dedup
    (one groupBy) → host rollup (one groupBy on ≤|hosts| keys) →
    broadcast-sized join with pagerank_links → the frontier rank.
    At 100 TB the host rollup is the only corpus-sized shuffle and
    its key space is the host set — but that host set is 10⁷–10⁸
    rows on a web corpus, so the rank itself must be distributed
    too (r13, closing the last data-shaped unpartitioned
    row_number): banded_rank over a log-scale value band
    (operators/distrank.py::desc_long_band — order-monotone on
    desc(total_rank) with no sampling pass), per-band local
    row_number, broadcast prefix-count offsets."""
    docs = _docs(spark, sf_dir)
    urls = _doc_urls(docs).withColumn(
        "host", F.regexp_extract("url_canonical", r"://([^/?]+)", 1)
    )
    # persisted: feeds the host rollup AND the keeper join
    urls = urls.persist()
    host_stats = urls.groupBy("host").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("url_canonical").cast("long").alias("n_urls"),
    )
    keepers = urls.groupBy("host", "url_canonical").agg(
        F.min("doc_id").alias("doc_id")
    )
    ranks = pagerank_links(spark, sf_dir)
    host_rank = (
        keepers.join(ranks, "doc_id")
        .groupBy("host")
        .agg(F.sum("rank").cast("long").alias("total_rank"))
    )
    from finmapreduce_spark.operators.distrank import (
        banded_rank,
        desc_long_band,
    )

    joined = host_stats.join(host_rank, "host").withColumn(
        "_band", desc_long_band(F.col("total_rank"))
    )
    return banded_rank(
        joined,
        band_cols=["_band"],
        order_cols=[F.col("total_rank").desc(), F.col("host").asc()],
        out_col="frontier_order",
    ).select(
        "host",
        "n_docs",
        "n_urls",
        "total_rank",
        F.col("frontier_order").cast("int").alias("frontier_order"),
    )


HOST_FRONTIER_ORACLE = f"""
WITH urls AS (
  SELECT u.*, regexp_extract(url_canonical, '://([^/?]+)', 1) AS host
  FROM ({_URLS_SQL}) u
),
host_stats AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT url_canonical) AS BIGINT) AS n_urls
  FROM urls GROUP BY 1
),
keepers AS (
  SELECT host, url_canonical, min(doc_id) AS doc_id
  FROM urls GROUP BY 1, 2
),
ranks AS (SELECT * FROM ({PAGERANK_ORACLE})),
host_rank AS (
  SELECT k.host, CAST(sum(r.rank) AS BIGINT) AS total_rank
  FROM keepers k JOIN ranks r USING (doc_id) GROUP BY 1
)
SELECT s.host, s.n_docs, s.n_urls, h.total_rank,
       CAST(row_number() OVER (ORDER BY h.total_rank DESC, s.host ASC)
            AS INT) AS frontier_order
FROM host_stats s JOIN host_rank h USING (host)
"""

QUERIES.update(
    {
        "dedup_url_canonical": QuerySpec(
            dedup_url_canonical, DEDUP_URL_ORACLE
        ),
        "host_frontier_rank": QuerySpec(
            host_frontier_rank, HOST_FRONTIER_ORACLE
        ),
    }
)


# ---------------------------------------------------------------------------
# Span TRIMMING (round 11): the deliverable the span detector exists
# for — Lee et al. 2021's "train on one copy of the substring":
# for every unordered pair sharing a verbatim >= SUBSTR_L span, the
# HIGHER-id doc loses its copy (the lower-id doc keeps it — the same
# min-id-keeper convention as every dedup family here). Per doc the
# removal set is the interval UNION of its doc_b-side spans: merge
# overlapping/touching intervals with one running-max window (rows,
# not pairs), take the complement segments, slice the text and
# reassemble in order with zip_with + array_join — all JVM string
# expressions over a ≤|merged-intervals| array per doc. Integers and
# strings only, so the DuckDB oracle (same windows, string_agg
# reassembly) is exact.
# ---------------------------------------------------------------------------


def substring_trim(
    docs: DataFrame,
    min_len: int = SUBSTR_L,
    k: int = SUBSTR_K,
    scratch: list | None = None,
) -> DataFrame:
    """(doc_id, n_chars, n_removed, n_cut_spans, text_trimmed):
    every doc's text with its duplicated-span copies cut out
    (doc_b side of exact_substring_spans), full corpus — docs with
    no spans pass through unchanged."""
    spans = exact_substring_spans(docs, min_len, k, scratch=scratch)
    # DISTINCT before the merge window: a union is insensitive to
    # duplicate intervals (the same [s, e) arrives once per partner
    # doc — ~100 copies on a boilerplate corpus), and dropping them
    # makes the window's (s, e) ordering a TOTAL order. That is
    # correctness, not just economy: DuckDB's parallel window over
    # fully-tied rows is nondeterministic (observed on the hot-gram
    # corpus: the same doc flipping between 1 and 2 "islands" across
    # runs of the oracle — duplicated removal accounting), and the
    # driver's hash-compare needs both engines deterministic.
    ivals = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.col("b_start").alias("s"),
        (F.col("b_start") + F.col("span_len")).alias("e"),  # [s, e)
    ).distinct()
    w = W.partitionBy("doc_id").orderBy("s", "e")
    prev_max = F.max("e").over(w.rowsBetween(W.unboundedPreceding, -1))
    isl = ivals.withColumn(
        "g",
        F.sum(
            F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(
                0
            )
        ).over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    merged = isl.groupBy("doc_id", "g").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    ivs = merged.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("ivs")
    )
    base = docs.select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("t")
    )
    j = base.join(ivs, "doc_id", "left").withColumn(
        "ivs",
        F.coalesce("ivs", F.array().cast("array<struct<s:long,e:long>>")),
    )
    t = F.col("t")
    cn = F.length(t).cast("long")
    starts = F.concat(
        F.array(F.lit(1).cast("long")),
        F.transform("ivs", lambda iv: iv["e"]),
    )
    ends = F.concat(
        F.transform("ivs", lambda iv: iv["s"]), F.array(cn + 1)
    )
    pieces = F.zip_with(starts, ends, lambda st, en: t.substr(st, en - st))
    return j.select(
        "doc_id",
        cn.alias("n_chars"),
        F.aggregate(
            "ivs",
            F.lit(0).cast("long"),
            lambda acc, iv: acc + (iv["e"] - iv["s"]),
        ).alias("n_removed"),
        F.size("ivs").cast("long").alias("n_cut_spans"),
        F.array_join(pieces, "").alias("text_trimmed"),
    )


def dedup_substring_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_trim(_docs(spark, sf_dir))


SUBSTRING_TRIM_ORACLE = f"""
WITH sp AS ({EXACT_SUBSTRING_SPANS_ORACLE}),
iv AS (
  SELECT DISTINCT doc_b AS doc_id, b_start AS s, b_start + span_len AS e
  FROM sp
),
ord AS (
  SELECT doc_id, s, e,
         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS pm
  FROM iv
),
isl AS (
  SELECT doc_id, s, e,
         sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM ord
),
merged AS (
  SELECT doc_id, g, min(s) AS s, max(e) AS e FROM isl GROUP BY 1, 2
),
base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
pieces AS (
  SELECT doc_id,
         lag(e, 1, 1) OVER (PARTITION BY doc_id ORDER BY s) AS ps,
         s AS pe
  FROM merged
  UNION ALL
  SELECT b.doc_id, coalesce(mx.e, 1), length(b.t) + 1
  FROM base b LEFT JOIN (
    SELECT doc_id, max(e) AS e FROM merged GROUP BY 1
  ) mx ON mx.doc_id = b.doc_id
),
trimmed AS (
  SELECT p.doc_id,
         string_agg(substring(b.t, CAST(ps AS INT), CAST(pe - ps AS INT)),
                    '' ORDER BY ps) AS text_trimmed
  FROM pieces p JOIN base b USING (doc_id)
  GROUP BY 1
),
removed AS (
  SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS n_removed,
         CAST(count(*) AS BIGINT) AS n_cut_spans
  FROM merged GROUP BY 1
)
SELECT b.doc_id,
       CAST(length(b.t) AS BIGINT) AS n_chars,
       coalesce(r.n_removed, 0) AS n_removed,
       coalesce(r.n_cut_spans, 0) AS n_cut_spans,
       t.text_trimmed
FROM base b
JOIN trimmed t USING (doc_id)
LEFT JOIN removed r USING (doc_id)
"""

QUERIES.update(
    {
        "dedup_substring_trim": QuerySpec(
            dedup_substring_trim, SUBSTRING_TRIM_ORACLE
        ),
    }
)


def dedup_incremental_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, url_canonical, hist_keeper, is_duplicate): ingest-time
    URL dedup — the incoming batch (doc_id % INGEST_MOD == 0, the
    catalog-wide ingest-split convention) canonicalizes its URLs and
    probes the HISTORY keeper store (canonical URL → min historical
    doc_id), the same persisted-store lifecycle as the band-signature
    and winnow-fingerprint families: history amortizes across
    ingests, the delta pays only its own canonicalization (a
    zero-shuffle projection) plus one uniform-key probe join. A NULL
    hist_keeper means the URL is new to the corpus; is_duplicate
    additionally flags INTRA-batch copies (every non-min doc of a
    same-batch canonical group, round-12 fix) so a consumer filtering
    on the verdict keeps exactly one doc per canonical URL."""
    urls = _doc_urls(_docs(spark, sf_dir))
    incoming = urls.filter(F.pmod("doc_id", F.lit(INGEST_MOD)) == 0)
    history = urls.filter(F.pmod("doc_id", F.lit(INGEST_MOD)) != 0)
    store = history.groupBy("url_canonical").agg(
        F.min("doc_id").alias("hist_keeper")
    )
    batch_keeper = F.min("doc_id").over(W.partitionBy("url_canonical"))
    return (
        incoming.withColumn("_bk", batch_keeper)
        .join(store, "url_canonical", "left")
        .select(
            "doc_id",
            "url_canonical",
            "hist_keeper",
            (
                F.col("hist_keeper").isNotNull()
                | (F.col("doc_id") != F.col("_bk"))
            ).alias("is_duplicate"),
        )
    )


DEDUP_INC_URL_ORACLE = f"""
WITH urls AS ({_URLS_SQL}),
store AS (
  SELECT url_canonical, min(doc_id) AS hist_keeper
  FROM urls WHERE doc_id % {INGEST_MOD} <> 0 GROUP BY 1
)
SELECT u.doc_id, u.url_canonical, s.hist_keeper,
       (s.hist_keeper IS NOT NULL
        OR u.doc_id <> min(u.doc_id) OVER (PARTITION BY u.url_canonical))
         AS is_duplicate
FROM urls u LEFT JOIN store s USING (url_canonical)
WHERE u.doc_id % {INGEST_MOD} = 0
"""

QUERIES.update(
    {
        "dedup_incremental_url": QuerySpec(
            dedup_incremental_url, DEDUP_INC_URL_ORACLE
        ),
    }
)


def dedup_substring_trim_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_docs, n_docs_trimmed, chars_before, chars_removed,
    removed_frac): the data card for the span trim — how much verbatim
    duplication the Lee-2021 cut actually removes per language slice.
    One aggregation over substring_trim's output joined back to the
    doc dimension; all-integer except the final rounded fraction."""
    trimmed = substring_trim(_docs(spark, sf_dir))
    langs = _docs(spark, sf_dir).select(
        "doc_id", F.coalesce("lang", F.lit("")).alias("lang")
    )
    return (
        trimmed.join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum((F.col("n_removed") > 0).cast("int"))
            .cast("long")
            .alias("n_docs_trimmed"),
            F.sum("n_chars").cast("long").alias("chars_before"),
            F.sum("n_removed").cast("long").alias("chars_removed"),
        )
        .select(
            "lang",
            "n_docs",
            "n_docs_trimmed",
            "chars_before",
            "chars_removed",
            F.when(
                F.col("chars_before") > 0,
                F.round(F.col("chars_removed") / F.col("chars_before"), 6),
            ).alias("removed_frac"),
        )
    )


SUBSTRING_TRIM_REPORT_ORACLE = f"""
WITH trim_out AS ({SUBSTRING_TRIM_ORACLE}),
langs AS (
  SELECT doc_id, coalesce(lang, '') AS lang FROM documents
)
SELECT l.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN t.n_removed > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_trimmed,
       CAST(sum(t.n_chars) AS BIGINT) AS chars_before,
       CAST(sum(t.n_removed) AS BIGINT) AS chars_removed,
       CASE WHEN sum(t.n_chars) > 0
            THEN round(sum(t.n_removed) * 1.0 / sum(t.n_chars), 6)
       END AS removed_frac
FROM trim_out t JOIN langs l USING (doc_id)
GROUP BY 1
"""

QUERIES.update(
    {
        "dedup_substring_trim_report": QuerySpec(
            dedup_substring_trim_report, SUBSTRING_TRIM_REPORT_ORACLE
        ),
    }
)


# ---------------------------------------------------------------------------
# Cross-doc longest-common-substring containment — the suffix-
# automaton frontier joining the dedup family (the per-doc SAM
# diversity signal is textops.py::text_substring_diversity; this is
# its PAIR form). For every LSH-verified near-dup candidate, compute
# the EXACT, UNCAPPED longest common substring of the two normalized
# texts and the containment ratio lcs / min(len) — the signal that
# separates "same boilerplate plus different bodies" (high Jaccard,
# low containment) from "one document embeds the other" (containment
# → 1), which decides trim-vs-drop in a curation pass.
#
# Spark path: SAM of one string streamed over the other
# (functions/suffix.py::sam_lcs, O(|a|+|b|) per pair) as an
# Arrow-batched mapInPandas stage over the verified pair table —
# pair volume is the LSH candidate volume, already banded/bounded.
# Hub-doc note for 100 TB: a doc in many pairs rebuilds its SAM once
# per pair; if profiles show hub automata dominating, add
# .repartition("doc_a").sortWithinPandasPartitions before the Arrow
# stage and a last-SAM cache in the generator (runs of equal doc_a
# then share one automaton) — one extra pair-row exchange buys
# per-hub amortization. Not default: pairs are near-dup-verified, so
# hub degree is bounded by cluster size, and the 10× study is
# wall-flat without it.
#
# Oracle: the non-enumerating strategy the capped window couldn't
# use — BINARY SEARCH on the answer as a DuckDB recursive CTE.
# "LCS ≥ ℓ" is monotone in ℓ and checkable in O(n) per probe
# (list_intersect of the two length-ℓ gram lists), so ⌈log₂ n⌉
# recursion steps pin the exact length with O(n log n) work per pair
# — never the O(n²·L) full substring enumeration. Exactness of the
# monotone-predicate search is what makes the uncapped statistic
# oracle-checkable at all.
# ---------------------------------------------------------------------------

LCS_CONTAIN_THRESHOLD = 0.5


def dedup_lcs_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    pairs = dedup_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # coalesce(text,'') on BOTH twins: null-text docs yield no LSH
    # pairs today, but if the pair source changes the len_a/len_b
    # columns must not diverge (NULL length vs 0).
    tx = _docs(spark, sf_dir).select(
        "doc_id",
        F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))).alias("t"),
    )
    pt = (
        pairs.join(tx.select(F.col("doc_id").alias("doc_a"),
                             F.col("t").alias("ta")), "doc_a")
        .join(tx.select(F.col("doc_id").alias("doc_b"),
                        F.col("t").alias("tb")), "doc_b")
    )

    def gen(batches):
        from finmapreduce_spark.functions.suffix import sam_lcs

        for pdf in batches:
            rows = []
            for a, b, ta, tb in zip(
                pdf["doc_a"], pdf["doc_b"], pdf["ta"], pdf["tb"]
            ):
                sa = ta if isinstance(ta, str) else ""
                sb = tb if isinstance(tb, str) else ""
                rows.append((a, b, sam_lcs(sa, sb), len(sa), len(sb)))
            yield pd.DataFrame(
                rows, columns=["doc_a", "doc_b", "lcs_len", "len_a", "len_b"]
            )

    out = pt.mapInPandas(
        gen, "doc_a long, doc_b long, lcs_len long, len_a long, len_b long"
    )
    containment = F.round(
        F.col("lcs_len") / F.greatest(F.least("len_a", "len_b"), F.lit(1)), 6
    )
    return out.select(
        "doc_a",
        "doc_b",
        "lcs_len",
        "len_a",
        "len_b",
        containment.alias("containment"),
        (containment >= LCS_CONTAIN_THRESHOLD).alias("contained"),
    )


LCS_CONTAINMENT_ORACLE = f"""
WITH RECURSIVE pairs AS ({DEDUP_LSH_ORACLE}),
tx AS (SELECT doc_id, trim(lower(coalesce(text, ''))) AS t FROM documents),
pt AS (
  SELECT p.doc_a, p.doc_b, a.t AS ta, b.t AS tb
  FROM pairs p
  JOIN tx a ON a.doc_id = p.doc_a
  JOIN tx b ON b.doc_id = p.doc_b
), bs AS (
  SELECT doc_a, doc_b, ta, tb, 0 AS lo,
         least(length(ta), length(tb)) AS hi
  FROM pt
  UNION ALL
  SELECT doc_a, doc_b, ta, tb,
         CASE WHEN dup THEN mid ELSE lo END AS lo,
         CASE WHEN dup THEN hi ELSE mid - 1 END AS hi
  FROM (
    SELECT doc_a, doc_b, ta, tb, lo, hi, mid,
           len(list_intersect(
             list_transform(range(1, length(ta) - mid + 2),
                            i -> substr(ta, CAST(i AS INT), CAST(mid AS INT))),
             list_transform(range(1, length(tb) - mid + 2),
                            j -> substr(tb, CAST(j AS INT), CAST(mid AS INT)))
           )) > 0 AS dup
    FROM (SELECT *, (lo + hi + 1) // 2 AS mid FROM bs WHERE lo < hi)
  )
), lcs AS (
  SELECT doc_a, doc_b, CAST(max(lo) AS BIGINT) AS lcs_len
  FROM bs GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b, l.lcs_len,
       CAST(length(p.ta) AS BIGINT) AS len_a,
       CAST(length(p.tb) AS BIGINT) AS len_b,
       round(l.lcs_len / greatest(least(length(p.ta), length(p.tb)), 1), 6)
         AS containment,
       round(l.lcs_len / greatest(least(length(p.ta), length(p.tb)), 1), 6)
         >= {LCS_CONTAIN_THRESHOLD} AS contained
FROM lcs l JOIN pt p USING (doc_a, doc_b)
"""

QUERIES.update(
    {
        "dedup_lcs_containment": QuerySpec(
            dedup_lcs_containment, LCS_CONTAINMENT_ORACLE
        ),
    }
)


# ---------------------------------------------------------------------------
# Split-leakage guard — the eval-integrity composition: near-dup pairs
# (the LSH-verified set) that CROSS a train/val/test split boundary
# are leakage (a test doc whose near-duplicate sits in train inflates
# eval), and hash-random splits like textops.py::split_train_val
# guarantee some: the split is independent of content, so a near-dup
# cluster of size c crosses with probability 1 − Σ p_s^c. This report
# joins the two certified primitives — the banded pair generator and
# the md5-bucket split — so a curation pass can re-split by CLUSTER
# (dedup_cluster_canonical's keeper) instead of by doc.
#
# Scale: pair volume is the LSH candidate volume (banded, bounded);
# the split column is a zero-shuffle projection; the two id joins are
# uniform-key. Nothing new shuffles.
# ---------------------------------------------------------------------------


def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finmapreduce_spark.queries.textops import _hash_bucket_expr

    pairs = dedup_lsh_pairs(spark, sf_dir)
    bucket = _hash_bucket_expr(F.col("doc_id")) % 100
    splits = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    return (
        pairs.join(
            splits.select(
                F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
            ),
            "doc_a",
        )
        .join(
            splits.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            "split_a",
            "split_b",
            (F.col("split_a") != F.col("split_b")).alias("crosses_split"),
            (
                (F.col("split_a") == "train") & (F.col("split_b") != "train")
                | (F.col("split_b") == "train") & (F.col("split_a") != "train")
            ).alias("train_eval_leak"),
        )
    )


def _split_leakage_oracle() -> str:
    from finmapreduce_spark.queries.textops import SPLIT_SQL_BUCKET

    return f"""
WITH pairs AS ({DEDUP_LSH_ORACLE}),
splits AS (
  SELECT doc_id,
         CASE WHEN ({SPLIT_SQL_BUCKET}) % 100 < 80 THEN 'train'
              WHEN ({SPLIT_SQL_BUCKET}) % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT p.doc_a, p.doc_b, p.jaccard,
       a.split AS split_a, b.split AS split_b,
       a.split <> b.split AS crosses_split,
       ((a.split = 'train' AND b.split <> 'train')
        OR (b.split = 'train' AND a.split <> 'train')) AS train_eval_leak
FROM pairs p
JOIN splits a ON a.doc_id = p.doc_a
JOIN splits b ON b.doc_id = p.doc_b
"""


QUERIES.update(
    {
        "split_leakage_report": QuerySpec(
            split_leakage_report, _split_leakage_oracle()
        ),
    }
)


# ---------------------------------------------------------------------------
# tf-idf-WEIGHTED MinHash (r13 frontier): boilerplate-resistant
# near-dup signatures. Plain MinHash treats every shingle equally, so
# a site-wide navigation/license block (low-idf shingles) can carry
# two unrelated pages over the similarity bar. The weighted variant
# signs the WEIGHTED element universe instead: each shingle s is
# replicated into w(s) distinct elements (s,1)..(s,w(s)) with w(s) a
# small integer idf band (df ≤ 1 → 4, ≤ 3 → 3, ≤ 8 → 2, else 1 —
# integer thresholds, no float log, so the twins cannot misround),
# and plain MinHash over the replicated universe IS an unbiased
# sketch of the weighted Jaccard
#   J_w(A,B) = Σ_{s∈A∩B} w(s) / Σ_{s∈A∪B} w(s)
# — the replication construction of integer-weighted MinHash
# (Haveliwala et al.; the SPREAD-style drop-in signature upgrade).
# Rare (informative) shingles get up to 4× the vote; ubiquitous
# boilerplate gets 1×.
#
# Scale shape vs the unweighted lane: idf weighting fundamentally
# needs document frequencies, so this lane pays (a) one groupBy on
# the shingle string (uniform content keys, map-side combined) and
# (b) one signature groupBy on doc_id over ≤4× the shingle volume —
# both bounded shuffles, no new pair-side cost: the band self-join
# rides the same grid tiler, and the verify is one array_intersect
# of replicated 64-bit hashes per candidate pair (|A∩B| of the
# replicated sets EQUALS Σ min w over shared shingles exactly,
# because w is a global per-shingle weight).
# ---------------------------------------------------------------------------

WMH_THRESHOLD = JACCARD_THRESHOLD  # same bar as the unweighted lane


def dedup_weighted_minhash_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from finmapreduce_spark.operators.pairgrid import grid_self_pairs

    # The shingled projection is PERSISTED before the explode:
    # Catalyst collapses the scan→split→shingle expression into the
    # Generate's child, and the generator path re-evaluates it per
    # EMITTED row (measured 9.6 s vs 4.0 s at sf0.1 — the same
    # expression-rematerialization class as the hoisted-md5 lesson).
    # The cache also feeds ex's THREE consumers (df table, weight
    # join, per-doc weight sums via the sig agg) once. NULL-text docs
    # are excluded on the BASE column (the simhash pushdown lesson);
    # shingles IS NULL iff text IS NULL, so the oracle's
    # shingles-IS-NOT-NULL filter is the same set.
    sh = (
        with_shingles(_docs(spark, sf_dir).filter(F.col("text").isNotNull()))
        .select("doc_id", "shingles")
        .persist()
    )
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    # df per shingle via ONE window exchange instead of groupBy(s) +
    # join-back on s (round-15). The join version planned as a
    # BROADCAST of the distinct-shingle weight table — fast locally
    # (22.2 MB shuffle vs the window's 30.6 at sf0.1, the window
    # ships the instance table once) but the weight table grows with
    # corpus DISTINCT SHINGLES, which at 100 TB is a driver-killing
    # broadcast (the 50×-study failure class) or, past the
    # threshold, a re-plan into SMJ that shuffles the instance table
    # AND the weight table. The window computes the identical df
    # with one deterministic exchange and no driver collect, and is
    # faster even locally (warm 6.8/5.9 → 5.8/4.6 s). Same df, same
    # weights, same signature.
    wcol = (
        F.when(F.col("df") <= 1, 4)
        .when(F.col("df") <= 3, 3)
        .when(F.col("df") <= 8, 2)
        .otherwise(1)
        .cast("int")
    )
    reps = (
        ex.withColumn("df", F.count("*").over(W.partitionBy("s")))
        .select(
            "doc_id",
            "s",
            F.explode(F.sequence(F.lit(1), wcol)).alias("r"),
        )
    )
    mins = [
        F.min(
            F.md5(F.concat_ws(":", F.lit(i), F.col("s"), F.col("r")))
        ).alias(f"mh_{i}")
        for i in range(N_HASHES)
    ]
    sig = reps.groupBy("doc_id").agg(
        *mins,
        F.collect_list(
            F.xxhash64(F.concat_ws(":", F.col("s"), F.col("r")))
        ).alias("rh"),
    )
    band0, band1 = _band_exprs()
    buckets = (
        sig.select(
            "doc_id",
            "rh",
            F.explode(
                F.array(
                    F.struct(F.lit(0).alias("band_id"), band0.alias("key")),
                    F.struct(F.lit(1).alias("band_id"), band1.alias("key")),
                )
            ).alias("b"),
        )
        .select("doc_id", "rh", "b.band_id", "b.key")
        .persist()
    )
    # The tiler moves bare ids; the replicated-hash multiset payloads
    # attach once at the verify from the band-0 bucket slice (guide
    # §2.3/§8, same split as _attach_shingle_sets — the rh arrays are
    # the heaviest payload in the family, 4× shingle replication at
    # the df=1 weight). Merge-hinted for the pairgrid reasons: both
    # sides corpus-derived, broadcast never legitimate at scale.
    ids = grid_self_pairs(
        buckets.select("doc_id", "band_id", "key"),
        ["band_id", "key"],
        "doc_id",
        [],
        block=LSH_GRID_BLOCK,
    ).select(
        F.col("doc_id_a").alias("doc_a"),
        F.col("doc_id_b").alias("doc_b"),
    )
    rtab = buckets.filter(F.col("band_id") == 0).select("doc_id", "rh")
    cand = (
        ids.hint("merge")
        .join(
            rtab.select(
                F.col("doc_id").alias("doc_a"), F.col("rh").alias("rh_a")
            ),
            "doc_a",
        )
        .hint("merge")
        .join(
            rtab.select(
                F.col("doc_id").alias("doc_b"), F.col("rh").alias("rh_b")
            ),
            "doc_b",
        )
    )
    inter = F.size(F.array_intersect("rh_a", "rh_b"))
    wj = inter / (F.size("rh_a") + F.size("rh_b") - inter)
    return (
        cand.select(
            "doc_a",
            "doc_b",
            inter.cast("long").alias("inter_w"),
            F.size("rh_a").cast("long").alias("w_a"),
            F.size("rh_b").cast("long").alias("w_b"),
            F.round(wj, 6).alias("wjaccard"),
        )
        .filter(F.col("wjaccard") >= WMH_THRESHOLD)
    )


_WMH_MINS_SQL = ", ".join(
    f"min(md5({i} || ':' || s || ':' || r)) AS mh_{i}"
    for i in range(N_HASHES)
)

DEDUP_WMH_ORACLE = f"""
WITH ex AS (
  SELECT doc_id, unnest(shingles) AS s
  FROM ({_SHINGLES_SQL}) WHERE shingles IS NOT NULL
), wtab AS (
  SELECT s, CASE WHEN count(*) <= 1 THEN 4 WHEN count(*) <= 3 THEN 3
                 WHEN count(*) <= 8 THEN 2 ELSE 1 END AS w
  FROM ex GROUP BY s
), reps AS (
  SELECT doc_id, s, CAST(t.r AS BIGINT) AS r
  FROM ex JOIN wtab USING (s),
       LATERAL unnest(range(1, w + 1)) AS t(r)
), sig AS (
  SELECT doc_id, {_WMH_MINS_SQL} FROM reps GROUP BY doc_id
), buckets AS (
  SELECT doc_id, 0 AS band_id, {_BAND0} AS key FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band_id, {_BAND1} AS key FROM sig
), cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM buckets l JOIN buckets r
    ON l.band_id = r.band_id AND l.key = r.key AND l.doc_id < r.doc_id
), dw AS (
  SELECT e.doc_id, CAST(sum(w.w) AS BIGINT) AS wd
  FROM ex e JOIN wtab w USING (s) GROUP BY 1
), iw AS (
  SELECT c.doc_a, c.doc_b, CAST(sum(w.w) AS BIGINT) AS inter_w
  FROM cand c
  JOIN ex a ON a.doc_id = c.doc_a
  JOIN ex b ON b.doc_id = c.doc_b AND b.s = a.s
  JOIN wtab w ON w.s = a.s
  GROUP BY 1, 2
), verified AS (
  SELECT i.doc_a, i.doc_b, i.inter_w, da.wd AS w_a, db.wd AS w_b,
         round(i.inter_w * 1.0 / (da.wd + db.wd - i.inter_w), 6)
           AS wjaccard
  FROM iw i
  JOIN dw da ON da.doc_id = i.doc_a
  JOIN dw db ON db.doc_id = i.doc_b
)
SELECT doc_a, doc_b, inter_w, w_a, w_b, wjaccard
FROM verified WHERE wjaccard >= {WMH_THRESHOLD}
"""

QUERIES.update(
    {
        "dedup_weighted_minhash_pairs": QuerySpec(
            dedup_weighted_minhash_pairs, DEDUP_WMH_ORACLE
        ),
    }
)


# ---------------------------------------------------------------------------
# Cluster-aware split assignment (r13): the REMEDY for what
# split_leakage_report detects. Hash-splitting doc_ids leaks whenever
# near-dup pairs straddle splits; re-keying the split hash on the
# near-dup CLUSTER label (connected components over the LSH pairs;
# singletons are their own cluster) puts every near-dup family
# wholly inside one split — zero leakage BY CONSTRUCTION, and the
# query certifies it: n_cross_split_pairs is computed from the same
# pair set and must be 0 (a value the oracle recomputes exactly).
# Same 80/10/10 bucket thresholds as the doc-level splitter, so the
# split sizes stay comparable.
# ---------------------------------------------------------------------------


def split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finmapreduce_spark.queries.textops import _hash_bucket_expr

    pairs = dedup_lsh_pairs_grid(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs)
    lab = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("label", F.col("doc_id")).alias("cluster"),
        )
    )
    bucket = _hash_bucket_expr(F.col("cluster")) % 100
    assigned = lab.select(
        "doc_id",
        "cluster",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    ).persist()
    cross = (
        pairs.join(
            assigned.select(
                F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")
            ),
            "doc_a",
        )
        .join(
            assigned.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")
            ),
            "doc_b",
        )
        .agg(
            F.coalesce(
                F.sum((F.col("sa") != F.col("sb")).cast("long")), F.lit(0)
            ).alias("n_cross_split_pairs")
        )
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(cross))
        .select("split", "n_docs", "n_clusters", "n_cross_split_pairs")
    )


def _split_by_cluster_oracle() -> str:
    from finmapreduce_spark.queries.textops import SPLIT_SQL_BUCKET

    cluster_bucket = SPLIT_SQL_BUCKET.replace("doc_id", "cluster")
    return f"""
WITH RECURSIVE pairs AS ({DEDUP_LSH_ORACLE}),
edges AS (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
walk(doc_id, label) AS (
  SELECT doc_a, doc_a FROM edges
  UNION
  SELECT e.doc_b, w.label FROM walk w JOIN edges e ON e.doc_a = w.doc_id
),
labels AS (SELECT doc_id, min(label) AS cluster FROM walk GROUP BY 1),
lab AS (
  SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS cluster
  FROM documents d LEFT JOIN labels l USING (doc_id)
),
assigned AS (
  SELECT doc_id, cluster,
         CASE WHEN ({cluster_bucket}) % 100 < 80 THEN 'train'
              WHEN ({cluster_bucket}) % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM lab
),
cross_ AS (
  SELECT CAST(coalesce(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END),
                       0) AS BIGINT) AS n_cross_split_pairs
  FROM pairs p
  JOIN assigned a ON a.doc_id = p.doc_a
  JOIN assigned b ON b.doc_id = p.doc_b
)
SELECT assigned.split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
       cross_.n_cross_split_pairs
FROM assigned, cross_
GROUP BY assigned.split, cross_.n_cross_split_pairs
"""


QUERIES.update(
    {
        "split_by_cluster": QuerySpec(
            split_by_cluster, _split_by_cluster_oracle()
        ),
    }
)
