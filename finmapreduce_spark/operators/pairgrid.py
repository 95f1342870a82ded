"""Grid-tiled bucket pairing — the ONE builder that turns a bucket
table into doc pairs, for every banded/gram dedup family: self-joins
(:func:`grid_self_pairs`) and delta × store probes
(:func:`grid_cross_pairs`).

A banded LSH/SimHash candidate join is a join on a bucket key; one
pathological bucket of H rows (site-wide boilerplate, an empty-doc
cluster) funnels H²/2 pair evaluations through ONE task. Salting
cannot split a single join key's pair product; what does is tiling
the bucket's pair matrix into B×B cells and making the CELL part of
the join key (Okcan & Riedewald's join-matrix tiling, SIGMOD 2011):

  1. every row gets an in-bucket index (one per-bucket window sort —
     O(H log H) over rows, not pairs) and a block id ``idx div B``
     (:func:`_block_index`, shared by both tilers),
  2. the left side replicates each row across its cell ROW, the
     right side down its cell COLUMN (the upper triangle for a
     self-join, the full rectangle for a probe),
  3. the equi-join key becomes (bucket …, blk_i, blk_j): each row
     pair meets in exactly one cell, per-task pair work is bounded by
     B² regardless of bucket size, and replication per row is the
     other side's block count — the standard tiling trade.

Measured (SCALE.md): hot task 3.3 s → 0.58 s (LSH) and 4.6 s →
0.06 s (SimHash) on the r05 hot-band-bucket stress, 35–40 s → 0.59 s
on the r12 two-sided hot probe; at sf0.1 on a normal corpus the cell
replication and the extra exchange cost a fixed per-stage overhead
over a plain equi-join. Production sizing: B ≈ 1024 so one cell ≈
one task budget.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from finmapreduce_spark.operators.checkpoints import keep

DEFAULT_BLOCK = 64  # local-fixture sizing; production ~1024


def _block_index(
    rows: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    block: int,
    right: Column | None,
) -> DataFrame:
    """The in-bucket indexing both tilers share: ONE window over each
    bucket gives every row its block ``__blk`` (its in-bucket index,
    in ``id_col`` order, div ``block``) and the bucket's block counts.

    Self-join (``right`` None): ``__nbl`` is the bucket's block count.
    A bucket of one row can never produce a pair and is dropped HERE,
    after the (already-paid) index window and before the persist, the
    explode replications and the cell sort-merge join (round 16: in
    the gram/band tables singleton buckets are the large majority).

    Probe (``right`` marks the right side's rows of a two-sided
    union): rows are indexed within their side — the left side sorts
    first, so a right row's side index is its bucket index minus the
    left count — and ``__nbl``/``__nbr`` are the two sides' block
    counts. A bucket missing either side is dropped.

    Both filters are per-bucket all-or-nothing, so surviving buckets
    keep their full index range and the pair output is unchanged."""
    wk = W.partitionBy(*bucket_cols)
    n, n_l = F.col("__n"), F.col("__nl")

    def blocks(rows_: Column) -> Column:
        return F.ceil(rows_ / block).cast("int")

    if right is None:
        idx = F.row_number().over(wk.orderBy(id_col)) - 1
        out = (
            rows.withColumn("__idx", idx)
            .withColumn("__n", F.count("*").over(wk))
            .filter(n > 1)
            .withColumn("__nbl", blocks(n))
        )
    else:
        is_r = right.cast("int")
        idx = F.row_number().over(wk.orderBy(is_r, id_col)) - 1
        out = (
            rows.withColumn("__idx", idx)
            .withColumn("__n", F.count("*").over(wk))
            .withColumn("__nl", F.count(F.when(~right, 1)).over(wk))
            .filter((n_l > 0) & (n > n_l))
            .withColumn("__idx", F.col("__idx") - is_r * n_l)
            .withColumn("__nbl", blocks(n_l))
            .withColumn("__nbr", blocks(n - n_l))
        )
    return out.withColumn(
        "__blk", (F.col("__idx") / block).cast("int")
    ).drop("__idx", "__n", "__nl")


def _cell_join(
    left: DataFrame,
    right: DataFrame,
    bucket_cols: list[str],
    cond: Column,
    out_cols: list[Column],
) -> DataFrame:
    """The cell equi-join of both tilers: ``cond`` (the cell keys) and
    equal ``bucket_cols``, pinned to sort-merge
    ("merge" hint) — never broadcast, never hash-build. Three reasons,
    each found by measurement:

    1. The tiler's per-task bound IS the shuffle on (bucket, cell):
       under a broadcast hash join the pair probes run in the stream
       side's physical partitions and the cell ids never reach a
       partitioner, so one hot bucket funnels its whole pair volume
       through the few tasks holding its rows (measured: a 44 s hot
       task vs the plain probe's 33 s on the two-sided clone corpus,
       SCALE.md round-12 study).
    2. Both sides are explode output (the cell replication), and
       Catalyst's sizeInBytes for Generate equals its INPUT size —
       an underestimate by the replication factor — while AQE's
       runtime conversion judges the COMPRESSED shuffle bytes of
       highly templated rows. At 50× corpus scale the composed
       keep-list broadcast this join at ~13 GiB real size ("Cannot
       broadcast the table that is larger than 8.0 GiB", SCALE.md
       round-14/15 ledgers). The replicated bucket table is
       corpus-sized; a broadcast here is never right.
    3. Not shuffle_hash (the first round-15 attempt): a shuffled hash
       join builds an UNSPILLABLE per-partition hash map, so per-task
       memory scales with corpus/partitions — the 50× run died in the
       gram-grid build ("Not enough memory to build hash map",
       HashedRelation.scala:487). Sort-merge spills both sorted runs;
       per-task memory is bounded regardless of partition tuning."""
    for c in bucket_cols:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    return (
        left.alias("l")
        .hint("merge")
        .join(right.alias("r"), cond)
        .select(*out_cols)
    )


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
    each left/right row pair meets in exactly ONE cell, so per-bucket
    counting aggregates (e.g. "distinct shared grams per doc pair")
    can run directly on it without a dropDuplicates shuffle.

    The indexed bucket table is kept (operators.checkpoints.keep:
    both replication sides read it; without the cache the upstream
    pipeline runs once per side)."""
    indexed = keep(_block_index(buckets, bucket_cols, id_col, block, None))
    carry = [id_col, *payload_cols, *bucket_cols]
    left = indexed.select(
        *carry,
        F.col("__blk").alias("__blk_i"),
        F.explode(F.sequence(F.col("__blk"), F.col("__nbl") - 1)).alias("__blk_j"),
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
    out_cols = [
        F.col(f"l.{id_col}").alias(f"{id_col}_a"),
        F.col(f"r.{id_col}").alias(f"{id_col}_b"),
    ]
    for c in payload_cols:
        out_cols += [
            F.col(f"l.{c}").alias(f"{c}_a"),
            F.col(f"r.{c}").alias(f"{c}_b"),
        ]
    paired = _cell_join(left, right, bucket_cols, cond, out_cols)
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
    """ALL (left-row, right-row) pairs sharing a bucket — the probe of
    a delta against a store — tiled so one bucket hot on both sides
    (a gram/band present in H_l delta rows and H_r store rows) cannot
    funnel its H_l×H_r pair volume through a single task.

    Both sides go through ONE index window (a union, each side's rows
    carried in its own struct), so each row learns its block and both
    sides' block counts without an aggregate or a join; each LEFT row
    replicates across the RIGHT side's blocks for its bucket and vice
    versa, so every row pair meets in exactly ONE (l_blk, r_blk)
    cell: the output is the bucket equi-join's row MULTISET (one row
    per shared bucket; callers dedupe across buckets). Per-task pair
    work ≤ block².

    Output columns: ``{left_id}`` and ``{right_id}`` (names must
    differ) + payload columns, each taken verbatim from its side.
    The indexed union is kept (both replication sides read it)."""
    left_payload = left_payload or []
    right_payload = right_payload or []
    # Payload columns pass through VERBATIM (no _a/_b suffixing like
    # grid_self_pairs) — so the combined output names must be unique,
    # or the join output is ambiguous. Fail loudly at plan time.
    out_names = [left_id, right_id, *left_payload, *right_payload]
    dupes = {n for n in out_names if out_names.count(n) > 1}
    if dupes:
        raise ValueError(
            "grid_cross_pairs output column collision: "
            f"{sorted(dupes)} — pre-rename payload/id columns so the "
            "combined (left_id, right_id, *left_payload, "
            "*right_payload) names are unique"
        )

    def side(df: DataFrame, id_col: str, payload: list[str], name: str):
        return df.select(
            *bucket_cols,
            F.col(id_col).alias("__id"),
            F.lit(name == "__r").alias("__right"),
            F.struct(id_col, *payload).alias(name),
        )

    both = side(left, left_id, left_payload, "__l").unionByName(
        side(right, right_id, right_payload, "__r"), allowMissingColumns=True
    )
    indexed = keep(
        _block_index(both, bucket_cols, "__id", block, F.col("__right"))
    )
    lrep = indexed.filter(~F.col("__right")).select(
        *bucket_cols,
        "__l.*",
        F.col("__blk").alias("__lblk"),
        F.explode(F.sequence(F.lit(0), F.col("__nbr") - 1)).alias("__rblk"),
    )
    rrep = indexed.filter(F.col("__right")).select(
        *bucket_cols,
        "__r.*",
        F.explode(F.sequence(F.lit(0), F.col("__nbl") - 1)).alias("__lblk"),
        F.col("__blk").alias("__rblk"),
    )
    cond = (F.col("l.__lblk") == F.col("r.__lblk")) & (
        F.col("l.__rblk") == F.col("r.__rblk")
    )
    out_cols = [F.col(f"l.{left_id}"), F.col(f"r.{right_id}")]
    out_cols += [F.col(f"l.{c}") for c in left_payload]
    out_cols += [F.col(f"r.{c}") for c in right_payload]
    return _cell_join(lrep, rrep, bucket_cols, cond, out_cols)
