"""Multimodal pipeline queries.

Every query carries a full DuckDB oracle, and every payload is a
REAL decodable container: binary PPM images, RIFF/WAV audio, and
YUV4MPEG2 video, all decoded by the stdlib codecs
(operators/codecs.py). Contents follow deterministic integer formulas
(e.g. image byte k = (31*doc_id + 7*k) % 256), so the oracles
reconstruct the decoded buffers — and therefore the pixel/waveform/
frame features — in pure SQL. The md5 fallback double now covers only
containers this image genuinely cannot decode (JPEG/MP3/MP4 need
PIL/ffmpeg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from finmapreduce_spark.operators.multimodal import (
    DHASH_BANDS,
    decode_and_featurize,
    frame_sample,
)
from finmapreduce_spark.queries import QuerySpec
from finmapreduce_spark.sources.asset_store import read_assets

FRAME_EVERY_MS = 80  # sample every other frame at 25 fps


def _assets(spark, sf_dir):
    # binary-column parquet store (sources/asset_store.py): kind
    # partition dirs prune at planning time, asset_id footer stats
    # skip row groups, payload bytes hop to Python exactly once (into
    # the decode Arrow stage) — materialized once per sf, like a
    # production pipeline reading assets from object storage
    return read_assets(spark, sf_dir)


def multimodal_asset_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = _assets(spark, sf_dir)
    return assets.groupBy("kind").agg(
        F.count("*").alias("n_assets"),
        F.sum(F.length("payload")).alias("total_bytes"),
        F.round(F.avg("width"), 6).alias("avg_width"),
        F.round(F.avg("height"), 6).alias("avg_height"),
        F.sum("duration_ms").alias("total_duration_ms"),
    )


# Payload byte formulas (operators/multimodal.py synth):
#   image: PPM header ("P6\n{w} {h}\n255\n" = 9 + dim strings) +
#          w*h*3 pixels, w = d%16+4, h = d%12+4
#   audio: 44-byte RIFF header + 2*(d%256+64) PCM bytes
#   video: Y4M header ("YUV4MPEG2 W{w} H{h} F25:1 Ip A0:0 C444\n" =
#          33 + dim strings) + nf*(6 + 3*w*h) frame records,
#          w = d%8+4, h = d%6+4, nf = d%12+2; duration = nf*40 ms
ASSET_META_ORACLE = """
SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS kind,
       count(*) AS n_assets,
       CAST(sum(CASE WHEN doc_id % 3 = 0
                     THEN 9 + length(CAST(doc_id % 16 + 4 AS VARCHAR))
                          + length(CAST(doc_id % 12 + 4 AS VARCHAR))
                          + (doc_id % 16 + 4) * (doc_id % 12 + 4) * 3
                     WHEN doc_id % 3 = 1
                     THEN 44 + 2 * (doc_id % 256 + 64)
                     ELSE 33 + length(CAST(doc_id % 8 + 4 AS VARCHAR))
                          + length(CAST(doc_id % 6 + 4 AS VARCHAR))
                          + (doc_id % 12 + 2)
                            * (6 + 3 * (doc_id % 8 + 4) * (doc_id % 6 + 4))
                END) AS BIGINT) AS total_bytes,
       round(avg(CASE WHEN doc_id % 3 = 0 THEN doc_id % 16 + 4
                      WHEN doc_id % 3 = 1 THEN length(text) % 640 + 16
                      ELSE doc_id % 8 + 4 END), 6) AS avg_width,
       round(avg(CASE WHEN doc_id % 3 = 0 THEN doc_id % 12 + 4
                      WHEN doc_id % 3 = 1 THEN length(text) % 480 + 16
                      ELSE doc_id % 6 + 4 END), 6) AS avg_height,
       CAST(sum(CASE WHEN doc_id % 3 = 2 THEN (doc_id % 12 + 2) * 40
                     ELSE length(text) * 10 END) AS BIGINT) AS total_duration_ms
FROM documents GROUP BY 1
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = _assets(spark, sf_dir)
    out = frame_sample(assets, FRAME_EVERY_MS)
    return out.select(
        "asset_id", "frame_ms", "frame_idx", "frame_key",
        F.round("f_mean", 6).alias("f_mean"),
    )


# The sampled frame is REALLY decoded (O(1) Y4M seek); the oracle
# rebuilds the frame's lowercase hex from the synth formula and
# md5-hashes the same string, plus the mean intensity.
FRAME_SAMPLE_ORACLE = f"""
SELECT doc_id AS asset_id,
       CAST(t.ms AS BIGINT) AS frame_ms,
       CAST(t.ms // 40 AS BIGINT) AS frame_idx,
       md5(list_aggregate(
             list_transform(
               range(0, 3 * (doc_id % 8 + 4) * (doc_id % 6 + 4)),
               k -> format('{{:02x}}',
                           (13 * doc_id + 5 * (t.ms // 40) + 3 * k) % 256)),
             'string_agg', '')) AS frame_key,
       round((list_aggregate(
                list_transform(
                  range(0, 3 * (doc_id % 8 + 4) * (doc_id % 6 + 4)),
                  k -> (13 * doc_id + 5 * (t.ms // 40) + 3 * k) % 256),
                'sum') * 1.0
              / (3 * (doc_id % 8 + 4) * (doc_id % 6 + 4))) / 255.0,
             6) AS f_mean
FROM documents,
     LATERAL unnest(range(0, (doc_id % 12 + 2) * 40, {FRAME_EVERY_MS})) AS t(ms)
WHERE doc_id % 3 = 2
"""


def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode + featurize through the mapInPandas stage.

    Image assets go through the stdlib PPM codec (feature[0] = mean of
    the R channel / 255) and audio assets through the stdlib WAV codec
    (feature[0] = mean amplitude / 32768); video assets through the
    stdlib Y4M codec (feature[0] = mean of channel-0 bytes across all
    frames / 255). The oracle reconstructs all three from the synth
    formulas. Buffer-coincidence classes: images and videos repeat at
    doc_id mod 768, audio at doc_id mod 12288, so count(DISTINCT
    decoded buffer) is count(DISTINCT doc_id % class) per kind."""
    decoded = decode_and_featurize(_assets(spark, sf_dir))
    return decoded.groupBy("kind").agg(
        F.count("*").alias("n_assets"),
        F.countDistinct("decoded_md5").alias("n_distinct_decodes"),
        F.round(F.avg(F.element_at("feature", 1)), 6).alias("avg_feat_0"),
    )


DECODE_FEATURES_ORACLE = """
WITH img AS (
  SELECT doc_id,
         (list_aggregate(
            list_transform(range(0, (doc_id % 16 + 4) * (doc_id % 12 + 4) * 3, 3),
                           k -> (31 * doc_id + 7 * k) % 256),
            'sum') * 1.0
          / ((doc_id % 16 + 4) * (doc_id % 12 + 4))) / 255.0 AS f0
  FROM documents WHERE doc_id % 3 = 0
),
aud AS (
  SELECT doc_id,
         (list_aggregate(
            list_transform(range(0, doc_id % 256 + 64),
                           k -> ((17 * doc_id + 11 * k) % 4096) - 2048),
            'sum') * 1.0
          / (doc_id % 256 + 64)) / 32768.0 AS f0
  FROM documents WHERE doc_id % 3 = 1
),
vid AS (
  SELECT doc_id,
         (list_aggregate(
            list_transform(
              range(0, (doc_id % 12 + 2) * 3 * (doc_id % 8 + 4) * (doc_id % 6 + 4), 3),
              i -> (13 * doc_id
                    + 5 * (i // (3 * (doc_id % 8 + 4) * (doc_id % 6 + 4)))
                    + 3 * (i % (3 * (doc_id % 8 + 4) * (doc_id % 6 + 4)))) % 256),
            'sum') * 1.0
          / ((doc_id % 12 + 2) * (doc_id % 8 + 4) * (doc_id % 6 + 4))) / 255.0 AS f0
  FROM documents WHERE doc_id % 3 = 2
)
SELECT 'image' AS kind, count(*) AS n_assets,
       count(DISTINCT doc_id % 768) AS n_distinct_decodes,
       round(avg(f0), 6) AS avg_feat_0
FROM img
UNION ALL
SELECT 'audio' AS kind, count(*) AS n_assets,
       count(DISTINCT doc_id % 12288) AS n_distinct_decodes,
       round(avg(f0), 6) AS avg_feat_0
FROM aud
UNION ALL
SELECT 'video' AS kind, count(*) AS n_assets,
       count(DISTINCT doc_id % 768) AS n_distinct_decodes,
       round(avg(f0), 6) AS avg_feat_0
FROM vid
"""


def multimodal_dup_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-video duplicate-FRAME detection — the video analog of
    duplicate-passage dedup: sampled frames are really decoded (Y4M
    seek), keyed by content digest, and a frame appearing in ≥2
    distinct videos is a shared-content hit (intros, watermarked
    stills, re-encodes of the same source in a crawl).

    Scale shape: frame_sample is a narrow map; the only shuffle is the
    groupBy on frame_key — uniform by construction (content hashes),
    with map-side partial aggregation. Output is bounded by the number
    of DUPLICATED frames, not the corpus."""
    frames = frame_sample(_assets(spark, sf_dir), FRAME_EVERY_MS)
    return (
        frames.groupBy("frame_key")
        .agg(
            F.countDistinct("asset_id").alias("n_assets"),
            F.count("*").alias("n_occurrences"),
            F.min("asset_id").alias("first_asset"),
            F.max("asset_id").alias("last_asset"),
        )
        .filter(F.col("n_assets") >= 2)
    )


# NB: the literal 80 below is FRAME_EVERY_MS (kept literal — the
# surrounding {:02x} braces make f-string interpolation error-prone).
_FRAME_KEY_SQL = """
  SELECT doc_id AS asset_id,
         md5(list_aggregate(
               list_transform(
                 range(0, 3 * (doc_id % 8 + 4) * (doc_id % 6 + 4)),
                 k -> format('{:02x}',
                             (13 * doc_id + 5 * (t.ms // 40) + 3 * k) % 256)),
               'string_agg', '')) AS frame_key
  FROM documents,
       LATERAL unnest(range(0, (doc_id % 12 + 2) * 40, 80)) AS t(ms)
  WHERE doc_id % 3 = 2
"""

DUP_FRAMES_ORACLE = f"""
WITH fr AS ({_FRAME_KEY_SQL})
SELECT frame_key,
       count(DISTINCT asset_id) AS n_assets,
       count(*) AS n_occurrences,
       min(asset_id) AS first_asset,
       max(asset_id) AS last_asset
FROM fr GROUP BY frame_key HAVING count(DISTINCT asset_id) >= 2
"""


QUERIES: dict[str, QuerySpec] = {
    "multimodal_asset_metadata": QuerySpec(multimodal_asset_metadata, ASSET_META_ORACLE),
    "multimodal_frame_sample": QuerySpec(multimodal_frame_sample, FRAME_SAMPLE_ORACLE),
    "multimodal_decode_features": QuerySpec(
        multimodal_decode_features, DECODE_FEATURES_ORACLE
    ),
    "multimodal_dup_frames": QuerySpec(multimodal_dup_frames, DUP_FRAMES_ORACLE),
}


# ---------------------------------------------------------------------------
# End-to-end multimodal retrieval: binary PPM asset → REAL pixel
# decode/featurize (mapInPandas over Arrow binary batches) → ANN
# brute-force top-k among image assets. The oracle recomputes the
# identical 16-dim pixel-feature vectors in SQL from the synth
# formula, value-checking the entire multimodal chain.
# ---------------------------------------------------------------------------

MM_N_QUERIES = 10
MM_TOP_K = 3


def multimodal_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from finmapreduce_spark.queries.dedup import _dot

    # The decode Arrow stage is the expensive part, and a mapInPandas
    # node blocks predicate pushdown — so both filters land on the
    # STORE SCAN below the codec: kind=='image' prunes the audio and
    # video partition directories, and the asset_id split prunes row
    # groups on footer stats. The query side decodes 30 rows; the
    # corpus side decodes each image exactly once. This is the "embed
    # the query set separately, scan the corpus once" shape every ANN
    # serving path has; nothing is persisted and no job races a cache
    # fill.
    images = _assets(spark, sf_dir).filter(F.col("kind") == "image")

    def _feats(src):
        return (
            decode_and_featurize(src)
            .select("asset_id", F.col("feature").alias("v"))
            .withColumn("norm", F.sqrt(_dot(F.col("v"), F.col("v"))))
        )

    q = _feats(images.filter(F.col("asset_id") < MM_N_QUERIES * 3)).select(
        F.col("asset_id").alias("q_id"),
        F.col("v").alias("q_v"),
        F.col("norm").alias("q_norm"),
    )
    pairs = F.broadcast(q).crossJoin(
        _feats(images.filter(F.col("asset_id") >= MM_N_QUERIES * 3))
    )
    cos = _dot(F.col("q_v"), F.col("v")) / (F.col("q_norm") * F.col("norm"))
    ranked = pairs.select(
        "q_id", F.col("asset_id").alias("neighbor_id"), cos.alias("cosine")
    ).withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
        ),
    )
    return ranked.filter(F.col("rank") <= MM_TOP_K).select(
        "q_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine")
    )


# Image features = pixel_features(decoded RGB): 3 channel means + the
# overall mean (each /255) + a 12-bin intensity histogram (fractions).
# Reconstructed from the synth pixel formula byte k = (31*d + 7*k) % 256
# over n = w*h*3 bytes, w = d%16+4, h = d%12+4. Every entry is a ratio
# of exact integers so double arithmetic matches Spark bit-for-bit.
_MM_FEATURE_SQL = """
  SELECT doc_id AS asset_id,
         list_transform(range(0, 3), c ->
           (list_aggregate(
              list_transform(range(c, (doc_id % 16 + 4) * (doc_id % 12 + 4) * 3, 3),
                             k -> (31 * doc_id + 7 * k) % 256),
              'sum') * 1.0
            / ((doc_id % 16 + 4) * (doc_id % 12 + 4))) / 255.0)
         || [(list_aggregate(
                list_transform(range(0, (doc_id % 16 + 4) * (doc_id % 12 + 4) * 3),
                               k -> (31 * doc_id + 7 * k) % 256),
                'sum') * 1.0
              / ((doc_id % 16 + 4) * (doc_id % 12 + 4) * 3)) / 255.0]
         || list_transform(range(0, 12), j ->
              len(list_filter(range(0, (doc_id % 16 + 4) * (doc_id % 12 + 4) * 3),
                              k -> ((31 * doc_id + 7 * k) % 256) * 12 // 256 = j)) * 1.0
              / ((doc_id % 16 + 4) * (doc_id % 12 + 4) * 3)) AS v
  FROM documents WHERE doc_id % 3 = 0
"""

MM_ANN_ORACLE = f"""
WITH feats AS (
  SELECT asset_id, v,
         sqrt(list_inner_product(v, v)) AS norm
  FROM ({_MM_FEATURE_SQL})
),
q AS (SELECT asset_id AS q_id, v AS q_v, norm AS q_norm
      FROM feats WHERE asset_id < {MM_N_QUERIES * 3}),
scored AS (
  SELECT q.q_id, c.asset_id AS neighbor_id,
         list_inner_product(q.q_v, c.v) / (q.q_norm * c.norm) AS cosine
  FROM q CROSS JOIN feats c WHERE c.asset_id >= {MM_N_QUERIES * 3}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT q_id, CAST(rank AS INT) AS rank, neighbor_id, round(cosine, 6) AS cosine
FROM ranked WHERE rank <= {MM_TOP_K}
"""

QUERIES["multimodal_ann_topk"] = QuerySpec(multimodal_ann_topk, MM_ANN_ORACLE)


# ---------------------------------------------------------------------------
# Real nearest-neighbor resize (the brief's decode/featurize/RESIZE/
# frame-sample quartet): thumb source pixel (ty,tx) = ((ty*h)//8,
# (tx*w)//8) — pure integer index math, so the oracle reconstructs
# every thumbnail byte from the synth pixel formula and certifies the
# whole 8×8×3 buffer through a position-weighted checksum.
# ---------------------------------------------------------------------------

THUMB_W = THUMB_H = 8


def multimodal_resize_thumbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finmapreduce_spark.operators.multimodal import resize_images

    thumbs = resize_images(
        _assets(spark, sf_dir), out_w=THUMB_W, out_h=THUMB_H
    )
    return thumbs.select(
        "asset_id",
        "src_w",
        "src_h",
        "thumb_checksum",
        F.round("thumb_mean", 9).alias("thumb_mean"),
    )


_TN = THUMB_W * THUMB_H * 3  # flattened thumbnail length

# sy=((t//24)*h)//8, sx=(((t%24)//3)*w)//8, source byte
# k=(sy*w+sx)*3 + t%3, value=(31d+7k)%256 — all integer ops
_THUMB_VAL = (
    "((31*doc_id + 7*((((t//24)*(doc_id%12+4))//8*(doc_id%16+4)"
    " + (((t%24)//3)*(doc_id%16+4))//8)*3 + t%3)) % 256)"
)

RESIZE_ORACLE = f"""
SELECT doc_id AS asset_id,
       CAST(doc_id % 16 + 4 AS INT) AS src_w,
       CAST(doc_id % 12 + 4 AS INT) AS src_h,
       CAST(list_sum(list_transform(range(0, {_TN}),
                                    t -> (t + 1) * {_THUMB_VAL})) AS BIGINT)
         AS thumb_checksum,
       round(CAST(list_sum(list_transform(range(0, {_TN}),
                                          t -> {_THUMB_VAL})) AS DOUBLE)
             / {_TN} / 255, 9) AS thumb_mean
FROM documents WHERE doc_id % 3 = 0
"""


QUERIES.update(
    {
        "multimodal_resize_thumbs": QuerySpec(
            multimodal_resize_thumbs, RESIZE_ORACLE
        ),
    }
)


# ---------------------------------------------------------------------------
# Image near-dup dedup (r13): dedup × multimodal composed. dHash the
# decoded pixels (operators/multimodal.py::dhash_images) → Manku-style
# banded candidate pairs (4 × 16-bit bands; Hamming ≤ 3 ⇒ pigeonhole
# guarantees one untouched band ⇒ recall 1.0, same theorem as
# dedup_simhash_pairs) → xor+popcount verify. The band self-join rides
# the grid tiler by default (operators/pairgrid.py), so a boilerplate
# image cluster sharing a band value cannot funnel its pair product
# through one task — the lesson the hot-bucket study pinned.
#
# Oracle: the synth pixel formula (byte k = (31*d + 7*k) % 256) makes
# the grayscale at every nearest-neighbor sample position an exact
# integer expression, so DuckDB rebuilds the 64-bit hash bit-for-bit,
# runs the same band join, and verifies with bit_count(xor(...)).
# ---------------------------------------------------------------------------

PHASH_HAMMING_MAX = 3


def phash_bands(sig: DataFrame) -> DataFrame:
    """One row per (image, band) of a dhash_images table:
    (asset_id, b0..b3, k, bv) — the band key (k, bv) the candidate
    join probes, with the full hash riding along for the verify. The
    batch pair query and the continuous phash store share it."""
    hash_cols = [f"b{k}" for k in range(DHASH_BANDS)]
    return sig.select(
        "asset_id",
        *hash_cols,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(k).alias("k"), F.col(f"b{k}").alias("bv"))
                    for k in range(DHASH_BANDS)
                ]
            )
        ).alias("bd"),
    ).select(
        "asset_id",
        *hash_cols,
        F.col("bd.k").alias("k"),
        F.col("bd.bv").alias("bv"),
    )


def phash_hamming(a: str, b: str):
    """Hamming distance between two banded hashes whose band columns
    are named ``a.format(k)`` and ``b.format(k)`` (xor + popcount per
    band, summed)."""
    return sum(
        F.bit_count(F.col(a.format(k)).bitwiseXOR(F.col(b.format(k))))
        for k in range(DHASH_BANDS)
    ).cast("long")


def dedup_image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finmapreduce_spark.operators.multimodal import dhash_images
    from finmapreduce_spark.operators.pairgrid import grid_self_pairs

    assert PHASH_HAMMING_MAX <= DHASH_BANDS - 1  # pigeonhole recall 1.0
    bands = phash_bands(dhash_images(_assets(spark, sf_dir)))
    cand = grid_self_pairs(
        bands, ["k", "bv"], "asset_id", [f"b{k}" for k in range(DHASH_BANDS)]
    )
    ham = phash_hamming("b{}_a", "b{}_b")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= PHASH_HAMMING_MAX)
        .select(
            F.col("asset_id_a").alias("asset_a"),
            F.col("asset_id_b").alias("asset_b"),
            "hamming",
        )
    )


# gray(t) for t in 0..71 indexing the 8×9 resized grid (y=t//9,
# x=t%9): source pixel (sy, sx) = ((y*h)//8, (x*w)//9), byte index
# k0 = (sy*w + sx)*3, gray = mean of the three channel bytes.
_DH_W = "(doc_id % 16 + 4)"
_DH_H = "(doc_id % 12 + 4)"
_DH_K0 = f"((((t//9)*{_DH_H})//8*{_DH_W} + ((t%9)*{_DH_W})//9)*3)"
_DH_GRAY = (
    f"(((31*doc_id + 7*{_DH_K0}) % 256)"
    f" + ((31*doc_id + 7*{_DH_K0} + 7) % 256)"
    f" + ((31*doc_id + 7*{_DH_K0} + 14) % 256)) // 3"
)


def _dh_band_sql(k: int) -> str:
    # band k = bits 16k..16k+15 MSB-first; bit i (y=i//8, x=i%8)
    # compares gr[y*9+x+1] > gr[y*9+x+2] (DuckDB lists are 1-based)
    terms = []
    for j in range(16):
        i = 16 * k + j
        y, x = divmod(i, 8)
        terms.append(
            f"(CASE WHEN gr[{y * 9 + x + 1}] > gr[{y * 9 + x + 2}]"
            f" THEN {1 << (15 - j)} ELSE 0 END)"
        )
    return " + ".join(terms)


_DH_XOR_SUM = " + ".join(
    f"bit_count(xor(ab{k}, bb{k}))" for k in range(4)
)

IMAGE_PHASH_ORACLE = f"""
WITH g AS (
  SELECT doc_id, list_transform(range(0, 72), t -> {_DH_GRAY}) AS gr
  FROM documents WHERE doc_id % 3 = 0
), sig AS (
  SELECT doc_id,
         CAST({_dh_band_sql(0)} AS BIGINT) AS b0,
         CAST({_dh_band_sql(1)} AS BIGINT) AS b1,
         CAST({_dh_band_sql(2)} AS BIGINT) AS b2,
         CAST({_dh_band_sql(3)} AS BIGINT) AS b3
  FROM g
), bands AS (
  SELECT doc_id, b0, b1, b2, b3, k,
         CASE k WHEN 0 THEN b0 WHEN 1 THEN b1
                WHEN 2 THEN b2 ELSE b3 END AS bv
  FROM sig CROSS JOIN (SELECT unnest(range({4})) AS k)
), cand AS (
  SELECT DISTINCT a.doc_id AS asset_a, b.doc_id AS asset_b,
         a.b0 AS ab0, a.b1 AS ab1, a.b2 AS ab2, a.b3 AS ab3,
         b.b0 AS bb0, b.b1 AS bb1, b.b2 AS bb2, b.b3 AS bb3
  FROM bands a JOIN bands b
    ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT asset_a, asset_b, CAST({_DH_XOR_SUM} AS BIGINT) AS hamming
FROM cand WHERE {_DH_XOR_SUM} <= {PHASH_HAMMING_MAX}
"""

QUERIES["dedup_image_phash_pairs"] = QuerySpec(
    dedup_image_phash_pairs, IMAGE_PHASH_ORACLE
)


# ---------------------------------------------------------------------------
# Audio near-dup dedup (r13): dhash_images' 1-D twin over the WAV
# lane — |amplitude|-envelope difference bits, 4×16-bit Manku bands
# through the grid tiler, popcount verify. The synthetic envelopes
# are phase-aligned sawtooths (sample k = ((17d+11k) mod 4096)−2048),
# so many assets legitimately share fingerprints — the hot buckets
# (87 > the 64-row grid block at sf0.01) are exactly what the tiler
# exists for, and the oracle rebuilds every envelope point from the
# formula.
# ---------------------------------------------------------------------------

AFP_HAMMING_MAX = 3


def dedup_audio_fingerprint_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from finmapreduce_spark.operators.multimodal import afp_audio
    from finmapreduce_spark.operators.pairgrid import grid_self_pairs

    sig = afp_audio(_assets(spark, sf_dir))
    bands = sig.select(
        "asset_id",
        "b0",
        "b1",
        "b2",
        "b3",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"), F.col(f"b{k}").alias("bv")
                    )
                    for k in range(4)
                ]
            )
        ).alias("bd"),
    ).select(
        "asset_id",
        "b0",
        "b1",
        "b2",
        "b3",
        F.col("bd.k").alias("k"),
        F.col("bd.bv").alias("bv"),
    )
    cand = grid_self_pairs(
        bands, ["k", "bv"], "asset_id", ["b0", "b1", "b2", "b3"]
    )
    ham = sum(
        F.bit_count(F.col(f"b{k}_a").bitwiseXOR(F.col(f"b{k}_b")))
        for k in range(4)
    ).cast("long")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= AFP_HAMMING_MAX)
        .select(
            F.col("asset_id_a").alias("asset_a"),
            F.col("asset_id_b").alias("asset_b"),
            "hamming",
        )
    )


# env(t) = abs(((17*d + 11*((t*n)//65)) % 4096) - 2048), n = d%256+64
_AFP_N = "(doc_id % 256 + 64)"
_AFP_ENV = (
    f"abs(((17*doc_id + 11*((t*{_AFP_N})//65)) % 4096) - 2048)"
)


def _afp_band_sql(k: int) -> str:
    terms = []
    for j in range(16):
        i = 16 * k + j
        terms.append(
            f"(CASE WHEN gr[{i + 1}] > gr[{i + 2}]"
            f" THEN {1 << (15 - j)} ELSE 0 END)"
        )
    return " + ".join(terms)


AUDIO_AFP_ORACLE = f"""
WITH g AS (
  SELECT doc_id, list_transform(range(0, 65), t -> {_AFP_ENV}) AS gr
  FROM documents WHERE doc_id % 3 = 1
), sig AS (
  SELECT doc_id,
         CAST({_afp_band_sql(0)} AS BIGINT) AS b0,
         CAST({_afp_band_sql(1)} AS BIGINT) AS b1,
         CAST({_afp_band_sql(2)} AS BIGINT) AS b2,
         CAST({_afp_band_sql(3)} AS BIGINT) AS b3
  FROM g
), bands AS (
  SELECT doc_id, b0, b1, b2, b3, k,
         CASE k WHEN 0 THEN b0 WHEN 1 THEN b1
                WHEN 2 THEN b2 ELSE b3 END AS bv
  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS k)
), cand AS (
  SELECT DISTINCT a.doc_id AS asset_a, b.doc_id AS asset_b,
         a.b0 AS ab0, a.b1 AS ab1, a.b2 AS ab2, a.b3 AS ab3,
         b.b0 AS bb0, b.b1 AS bb1, b.b2 AS bb2, b.b3 AS bb3
  FROM bands a JOIN bands b
    ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT asset_a, asset_b, CAST({_DH_XOR_SUM} AS BIGINT) AS hamming
FROM cand WHERE {_DH_XOR_SUM} <= {AFP_HAMMING_MAX}
"""

QUERIES["dedup_audio_fingerprint_pairs"] = QuerySpec(
    dedup_audio_fingerprint_pairs, AUDIO_AFP_ORACLE
)


# ---------------------------------------------------------------------------
# Video near-dup dedup (r13): completes the modality triple (image
# dHash / audio envelope fingerprint / video FRAME-SET overlap).
# multimodal_dup_frames finds individual shared frames; this is its
# PAIR form — the shot-level containment signal between two videos:
# distinct sampled frames really decoded (O(1) Y4M seek), keyed by
# content digest, video pairs sharing ≥1 frame scored by
# shared / min(|frames|) (the containment convention of the LCS
# lane). The frame-key self-join rides grid_cross-style tiling in
# its dedupe=False COUNTING mode: each row pair meets in exactly one
# cell, so the per-pair groupBy count equals the plain join's — and
# a frame shared by a re-encode cluster cannot funnel its pair
# product through one task.
# ---------------------------------------------------------------------------

VIDEO_OVERLAP_DUP = 0.4


def dedup_video_frame_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finmapreduce_spark.operators.pairgrid import grid_self_pairs

    frames = (
        frame_sample(_assets(spark, sf_dir), FRAME_EVERY_MS)
        .select("asset_id", "frame_key")
        .distinct()
        .persist()
    )
    counts = frames.groupBy("asset_id").agg(
        F.count("*").cast("long").alias("nf")
    )
    shared = (
        grid_self_pairs(
            frames, ["frame_key"], "asset_id", [], dedupe=False
        )
        .groupBy("asset_id_a", "asset_id_b")
        .agg(F.count("*").cast("long").alias("shared"))
    )
    ov = F.col("shared") / F.least(F.col("na"), F.col("nb"))
    return (
        shared.join(
            counts.select(
                F.col("asset_id").alias("asset_id_a"),
                F.col("nf").alias("na"),
            ),
            "asset_id_a",
        )
        .join(
            counts.select(
                F.col("asset_id").alias("asset_id_b"),
                F.col("nf").alias("nb"),
            ),
            "asset_id_b",
        )
        .select(
            F.col("asset_id_a").alias("asset_a"),
            F.col("asset_id_b").alias("asset_b"),
            "shared",
            F.col("na").alias("n_frames_a"),
            F.col("nb").alias("n_frames_b"),
            F.round(ov, 6).alias("overlap"),
            (F.round(ov, 6) >= VIDEO_OVERLAP_DUP).alias("is_dup"),
        )
    )


VIDEO_PAIRS_ORACLE = f"""
WITH fr AS (SELECT DISTINCT asset_id, frame_key FROM ({_FRAME_KEY_SQL})),
counts AS (SELECT asset_id, CAST(count(*) AS BIGINT) AS nf FROM fr GROUP BY 1),
pairs AS (
  SELECT a.asset_id AS asset_a, b.asset_id AS asset_b,
         CAST(count(*) AS BIGINT) AS shared
  FROM fr a JOIN fr b
    ON a.frame_key = b.frame_key AND a.asset_id < b.asset_id
  GROUP BY 1, 2
)
SELECT p.asset_a, p.asset_b, p.shared,
       ca.nf AS n_frames_a, cb.nf AS n_frames_b,
       round(p.shared * 1.0 / least(ca.nf, cb.nf), 6) AS overlap,
       round(p.shared * 1.0 / least(ca.nf, cb.nf), 6)
         >= {VIDEO_OVERLAP_DUP} AS is_dup
FROM pairs p
JOIN counts ca ON ca.asset_id = p.asset_a
JOIN counts cb ON cb.asset_id = p.asset_b
"""

QUERIES["dedup_video_frame_pairs"] = QuerySpec(
    dedup_video_frame_pairs, VIDEO_PAIRS_ORACLE
)
