"""Grid-tiled bucket self-pairing — the hot-bucket-safe candidate
generator shared by the banded dedup families.

A banded LSH/SimHash candidate join is a self-join on a bucket key;
one pathological bucket of H rows (site-wide boilerplate, an empty-doc
cluster) funnels H²/2 pair evaluations through ONE task. Salting
cannot split a single join key's pair product; what does is tiling
the bucket's pair triangle into B×B cells and making the CELL part of
the join key:

  1. every row gets an in-bucket index (per-bucket window sort —
     O(H log H) over rows, not pairs) and a block id ``idx div B``,
  2. the left side replicates each row across its cell ROW
     (cells (blk, j) for j ≥ blk), the right side down its cell
     COLUMN (cells (i, blk) for i ≤ blk),
  3. the equi-join key becomes (bucket …, blk_i, blk_j): each ordered
     pair meets in exactly one cell, per-task pair work is bounded by
     B² regardless of bucket size, and replication per row is
     ceil(H/B) — the standard triangle-tiling trade.

Pair SEMANTICS are identical to the plain self-join, so the same
oracle certifies both (measured: hot-task 3.3 s → 0.58 s on the
r05 hot-band-bucket stress, SCALE.md). Production sizing: B ≈ 1024
so one cell ≈ one task budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from finmapreduce_spark.operators.checkpoints import keep

DEFAULT_BLOCK = 64  # local-fixture sizing; production ~1024


def grid_self_pairs(
    buckets: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    payload_cols: list[str],
    block: int = DEFAULT_BLOCK,
    dedupe: bool = True,
) -> DataFrame:
    """Ordered within-bucket pairs (``id_a < id_b``), grid-tiled.

    Returns one row per unordered pair sharing ALL ``bucket_cols``
    (deduped across buckets), with ``{id}_a`` / ``{id}_b`` and each
    payload column suffixed ``_a`` / ``_b``.

    ``dedupe=False`` keeps one row per (bucket, row-pair) instead —
    each left/right row pair meets in exactly ONE cell, so the output
    multiset equals the plain bucket self-join's and per-bucket
    counting aggregates (e.g. "distinct shared grams per doc pair")
    can run directly on it without a dropDuplicates shuffle.

    The intermediate bucket table is kept (operators.checkpoints.keep:
    both join sides read it; without the cache the upstream pipeline
    runs once per side).
    """
    wk = W.partitionBy(*bucket_cols)
    indexed = keep(
        buckets.withColumn(
            "__idx", F.row_number().over(wk.orderBy(id_col)) - 1
        )
        .withColumn("__cnt", F.count("*").over(wk))
        # A row alone in its bucket can never produce a pair — drop it
        # HERE, after the (already-paid) index window and before the
        # persist, both explode replications and the cell sort-merge
        # join (round-16, guide §2.3: in the gram/band tables singleton
        # buckets are the large majority, e.g. most 40-char grams occur
        # in exactly one candidate doc). Pair output is identical: the
        # filter is per-bucket all-or-nothing, so surviving buckets
        # keep their full index range.
        .filter(F.col("__cnt") > 1)
        .withColumn("__nb", F.ceil(F.col("__cnt") / block).cast("int"))
        .drop("__cnt")
        .withColumn("__blk", (F.col("__idx") / block).cast("int"))
    )
    carry = [id_col, *payload_cols, *bucket_cols]
    left = indexed.select(
        *carry,
        F.col("__blk").alias("__blk_i"),
        F.explode(F.sequence(F.col("__blk"), F.col("__nb") - 1)).alias("__blk_j"),
    )
    right = indexed.select(
        *carry,
        F.explode(F.sequence(F.lit(0), F.col("__blk"))).alias("__blk_i"),
        F.col("__blk").alias("__blk_j"),
    )
    cond = (
        (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        & (F.col("l.__blk_i") == F.col("r.__blk_i"))
        & (F.col("l.__blk_j") == F.col("r.__blk_j"))
    )
    for c in bucket_cols:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    out_cols = [
        F.col(f"l.{id_col}").alias(f"{id_col}_a"),
        F.col(f"r.{id_col}").alias(f"{id_col}_b"),
    ]
    for c in payload_cols:
        out_cols += [
            F.col(f"l.{c}").alias(f"{c}_a"),
            F.col(f"r.{c}").alias(f"{c}_b"),
        ]
    # Pin the join to sort-merge ("merge" hint) — never broadcast,
    # never hash-build. Three reasons, each found by measurement:
    # 1. The tiler's per-task bound IS the shuffle on (bucket, cell):
    #    under a broadcast hash join the pair probes run in the stream
    #    side's physical partitions and the cell ids never reach a
    #    partitioner, so one hot bucket funnels its whole pair volume
    #    through the few tasks holding its rows. SMJ exchanges both
    #    sides on the full cell key exactly like a shuffled hash join.
    # 2. Both sides are explode output (the cell replication), and
    #    Catalyst's sizeInBytes for Generate equals its INPUT size —
    #    an underestimate by the replication factor — while AQE's
    #    runtime conversion judges the COMPRESSED shuffle bytes of
    #    highly templated rows. At 50× corpus scale the composed
    #    keep-list broadcast this join at ~13 GiB real size ("Cannot
    #    broadcast the table that is larger than 8.0 GiB" / 2 GiB
    #    allocation retries, SCALE.md round-14/15 ledgers). A
    #    broadcast here is never right: the replicated bucket table
    #    is corpus-sized.
    # 3. Not shuffle_hash (the first round-15 attempt): a shuffled
    #    hash join builds an UNSPILLABLE per-partition hash map, so
    #    per-task memory scales with corpus/partitions — the 50× run
    #    died in the gram-grid build ("Not enough memory to build
    #    hash map", HashedRelation.scala:487) with 32 partitions.
    #    Sort-merge spills both sorted runs; per-task memory is
    #    bounded regardless of partition-count tuning.
    paired = (
        left.alias("l")
        .hint("merge")
        .join(right.alias("r"), cond)
        .select(*out_cols)
    )
    if not dedupe:
        return paired
    return paired.dropDuplicates([f"{id_col}_a", f"{id_col}_b"])


def grid_cross_pairs(
    left: DataFrame,
    right: DataFrame,
    bucket_cols: list[str],
    left_id: str,
    right_id: str,
    left_payload: list[str] | None = None,
    right_payload: list[str] | None = None,
    block: int = DEFAULT_BLOCK,
) -> DataFrame:
    """Rectangular twin of grid_self_pairs: ALL (left-row, right-row)
    pairs sharing a bucket, tiled so one hot bucket key (a gram/band
    present in H_l delta rows and H_r history rows) cannot funnel its
    H_l×H_r pair volume through a single task.

    Each side gets an in-bucket index and block id (one window sort
    per side — rows, not pairs); each LEFT row replicates across the
    RIGHT side's blocks for its bucket and vice versa, so every row
    pair meets in exactly ONE (l_blk, r_blk) cell: the output
    MULTISET equals the plain bucket equi-join's and the same oracle
    certifies both. Per-task pair work ≤ block²; replication per row
    is ceil(other_side_bucket/block) — the incremental-ingest
    complement of the triangular tiler (delta probes a persisted
    store; a boilerplate bucket hot on BOTH sides is exactly where
    the plain probe join cliffs).

    Output columns: ``{left_id}`` and ``{right_id}`` (names must
    differ) + payload columns, each taken verbatim from its side.
    Both indexed sides are kept (each feeds its own replication AND
    the opposite side's block-count aggregate).
    """
    left_payload = left_payload or []
    right_payload = right_payload or []
    # Payload columns pass through VERBATIM (no _a/_b suffixing like
    # grid_self_pairs) — so the combined output names must be unique,
    # or the join output is ambiguous. Fail loudly at plan time.
    out_names = (
        [left_id, right_id] + list(left_payload) + list(right_payload)
    )
    dupes = {n for n in out_names if out_names.count(n) > 1}
    if dupes:
        raise ValueError(
            "grid_cross_pairs output column collision: "
            f"{sorted(dupes)} — pre-rename payload/id columns so the "
            "combined (left_id, right_id, *left_payload, "
            "*right_payload) names are unique"
        )

    def indexed(side: DataFrame, id_col: str) -> DataFrame:
        idx = F.row_number().over(W.partitionBy(*bucket_cols).orderBy(id_col)) - 1
        return keep(side.withColumn("__blk", (idx / block).cast("int")))

    li, ri = indexed(left, left_id), indexed(right, right_id)
    nb_l = li.groupBy(*bucket_cols).agg(
        (F.max("__blk") + 1).alias("__nbl")
    )
    nb_r = ri.groupBy(*bucket_cols).agg(
        (F.max("__blk") + 1).alias("__nbr")
    )
    lrep = li.join(nb_r, bucket_cols).select(
        *bucket_cols,
        left_id,
        *left_payload,
        F.col("__blk").alias("__lblk"),
        F.explode(F.sequence(F.lit(0), F.col("__nbr") - 1)).alias("__rblk"),
    )
    rrep = ri.join(nb_l, bucket_cols).select(
        *bucket_cols,
        right_id,
        *right_payload,
        F.explode(F.sequence(F.lit(0), F.col("__nbl") - 1)).alias("__lblk"),
        F.col("__blk").alias("__rblk"),
    )
    cond = (F.col("l.__lblk") == F.col("r.__lblk")) & (
        F.col("l.__rblk") == F.col("r.__rblk")
    )
    for c in bucket_cols:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    out_cols = [F.col(f"l.{left_id}"), F.col(f"r.{right_id}")]
    out_cols += [F.col(f"l.{c}") for c in left_payload]
    out_cols += [F.col(f"r.{c}") for c in right_payload]
    # The tiler's guarantee IS the shuffle on (bucket, cell): a
    # broadcast hash join — Catalyst's pick whenever the delta side
    # estimates small — performs the pair probes in the STREAM side's
    # physical partitions, so a hot bucket whose store rows sit in a
    # few scan/cache partitions funnels the full H_l×H_r volume
    # through those tasks and the cell ids never reach a partitioner
    # (measured: 44 s hot task vs the plain probe's 33 s on the
    # two-sided clone corpus, SCALE.md round-12 study). Pin
    # sort-merge (round 15, same reasoning as grid_self_pairs above):
    # both sides exchange on the full cell key exactly as the
    # round-12 shuffle_hash pin did, but the build is spill-safe
    # sorted runs instead of an unspillable per-partition hash map —
    # the 50× study killed the self-tiler's SHJ build in
    # HashedRelation.apply, and a corpus-scale history store hits the
    # identical wall here.
    return (
        lrep.alias("l")
        .hint("merge")
        .join(rrep.alias("r"), cond)
        .select(*out_cols)
    )
