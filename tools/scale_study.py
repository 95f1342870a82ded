"""Reproducible 1×-vs-10× scaling study for catalog queries.

Builds a deterministic N× replica of the sf0.1 tables under /tmp
scratch (big tables replicated with shifted keys so replicas are new
entities; dimension tables copied as-is, which is the realistic shape:
fact growth, fixed dims), then times the named catalog queries at 1×
and N× and prints one JSON line per query.

Replication is pure column arithmetic — no RNG — so re-runs are
identical:
  documents:  doc_id + c*1e6, text perturbed with a per-copy tail
              (copies are NEAR-duplicates, stressing dedup realistically)
  events:     event_id + c*1e7, user_id + c*1e5, ts + c days
  embeddings: vec_id + c*1e6 (same vectors: ANN cost is size-driven)
  lineitem/orders: orderkey + c*1e7 (same dims serve 10× facts)

Usage:
  python tools/scale_study.py q21_sole_late_suppliers kmeans_cluster_sizes
  python tools/scale_study.py --copies 10 --base /root/testdata/sf0.1 <queries...>

Heap guidance (round-9 finding): localCheckpoint blocks (the CC
rounds) stay pinned until driver GC drops the RDD handles —
catalog.clearCache() does NOT release them — so multi-query studies
under the default 1 GiB local heap can OOM by the 4th query. Run
one-query-per-process, or set SPARK_GRAFT_DRIVER_MEM=16g.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BIG = {"documents", "events", "embeddings", "lineitem", "orders"}
DIMS = ["region", "nation", "customer", "supplier", "part"]


def build_scratch(spark, base: str, out: str, copies: int) -> None:
    from pyspark.sql import functions as F

    from finmapreduce_spark.session import read_table

    os.makedirs(out, exist_ok=True)
    for t in DIMS:
        shutil.copy(f"{base}/{t}.parquet", f"{out}/{t}.parquet")

    def replicate(name, mutate):
        df = read_table(spark, base, name)
        parts = [mutate(df, c) for c in range(copies)]
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        union.coalesce(8).write.mode("overwrite").parquet(f"{out}/{name}.parquet")

    replicate(
        "documents",
        lambda df, c: df.withColumn("doc_id", F.col("doc_id") + c * 1_000_000)
        .withColumn(
            "text",
            F.col("text") if c == 0 else F.concat(F.col("text"), F.lit(f" copytail{c}")),
        ),
    )
    replicate(
        "events",
        lambda df, c: df.withColumn("event_id", F.col("event_id") + c * 10_000_000)
        .withColumn("user_id", F.col("user_id") + c * 100_000)
        .withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {c} DAY")),
    )
    replicate(
        "embeddings",
        lambda df, c: df.withColumn("vec_id", F.col("vec_id") + c * 1_000_000),
    )
    replicate(
        "orders",
        lambda df, c: df.withColumn("o_orderkey", F.col("o_orderkey") + c * 10_000_000),
    )
    replicate(
        "lineitem",
        lambda df, c: df.withColumn("l_orderkey", F.col("l_orderkey") + c * 10_000_000),
    )


def main():
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--scratch", default="/tmp/fmr_scale_scratch")
    ap.add_argument("--rebuild", action="store_true")
    args = ap.parse_args()

    from finmapreduce_spark.queries import all_queries
    from finmapreduce_spark.session import get_spark

    spark = get_spark("scale-study")
    spark.range(1).count()  # warm up
    if args.rebuild or not os.path.exists(f"{args.scratch}/lineitem.parquet"):
        t0 = time.time()
        build_scratch(spark, args.base, args.scratch, args.copies)
        print(f"# scratch built in {time.time() - t0:.1f}s -> {args.scratch}",
              file=sys.stderr)

    qs = all_queries()
    for name in args.queries:
        if name not in qs:
            print(f"# unknown query {name}", file=sys.stderr)
            continue
        row = {"query": name, "copies": args.copies}
        for tag, sf_dir in (("wall_1x", args.base), (f"wall_{args.copies}x", args.scratch)):
            t0 = time.time()
            n = qs[name].spark(spark, sf_dir).count()
            row[tag] = round(time.time() - t0, 2)
            row[tag.replace("wall", "rows")] = n
            # catalog persists are caller-owned (bench.py contract):
            # without this, a multi-query study accumulates every
            # query's cached tables until the 10× arms OOM the heap
            spark.catalog.clearCache()
        print(json.dumps(row))


if __name__ == "__main__":
    main()
