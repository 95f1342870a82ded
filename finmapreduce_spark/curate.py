"""Curation CLI — run the full curation pipeline and WRITE the
artifacts a training job consumes (the §3.1-style batch entry point
for the curation surface; the catalog twin `curation_e2e_report`
certifies the identical composition against a DuckDB oracle).

    python -m finmapreduce_spark.curate --sf_dir /root/testdata/sf0.01 \
        --out /tmp/curated

Writes under --out:
  keep_list.parquet   survivor doc_ids (cleaning funnel ∘ exact-fp
                      dedup ∘ five-signal master keep-list)
  selected.parquet    post-DSIR selection (all target-lang survivors
                      + top-N pool docs by importance)
  layout.parquet      curriculum-ordered packed layout for the
                      selected docs (doc_id, stage, curriculum_rank,
                      bucket, n_tokens, seq_id, seq_offset)
  shards.parquet      doc_id → LPT-balanced shard

Prints ONE JSON summary: funnel counts + per-(shard, stage) totals —
the same numbers the catalog entry certifies.
"""

from __future__ import annotations

import argparse
import json
import os


def run(spark, sf_dir: str, out: str) -> dict:
    """Write the four artifacts under ``out`` and return the summary.
    One scratch block owns every frame the pipeline keeps: they are
    released, blocking, once the writes and the summary collects are
    done (the keep-list's CC checkpoints are not frames; their loop
    owns them)."""
    from pyspark.sql import functions as F

    from finmapreduce_spark.operators.checkpoints import scratch
    from finmapreduce_spark.queries.training import (
        curation_pipeline_frames,
    )

    os.makedirs(out, exist_ok=True)
    with scratch():
        fr = curation_pipeline_frames(spark, sf_dir)
        for key, name in (
            ("survivors", "keep_list"),
            ("selected", "selected"),
            ("layout", "layout"),
            ("sharded", "shards"),
        ):
            fr[key].write.mode("overwrite").parquet(
                os.path.join(out, f"{name}.parquet")
            )
        funnel = {
            k: int(v) for k, v in fr["funnel"].collect()[0].asDict().items()
        }
        cells = [
            r.asDict()
            for r in (
                fr["layout"]
                .join(fr["sharded"], "doc_id")
                .groupBy("shard", "stage")
                .agg(
                    F.count("*").alias("n_docs"),
                    F.sum("n_tokens").cast("long").alias("cell_tokens"),
                )
                .orderBy("shard", "stage")
                .collect()
            )
        ]
    return {"funnel": funnel, "cells": cells, "out": out}


def main(argv=None, spark=None) -> dict:
    ap = argparse.ArgumentParser(prog="finmapreduce_spark.curate")
    ap.add_argument("--sf_dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    own = spark is None
    if own:
        from finmapreduce_spark.session import get_spark

        spark = get_spark()
    try:
        summary = run(spark, args.sf_dir, args.out)
    finally:
        spark.catalog.clearCache()
        if own:
            spark.stop()
    print(json.dumps(summary, sort_keys=True))
    return summary


if __name__ == "__main__":
    main()
