"""Continuous-ingest CLI — the shell entry point for the live-store
family (streaming/pipeline.py's serve_*_continuous functions). Points
a file-source stream at a landing directory of JSONL documents,
drives the chosen store with trigger(availableNow) — process the
backlog exactly once and exit, the operational mode a scheduled
ingest job runs — and leaves per-epoch verdicts/estimates under
--out and the live store under --store.

    python -m finmapreduce_spark.ingest --mode dedup \
        --landing /data/incoming --store /data/store \
        --out /data/verdicts --checkpoint /data/ckpt

Modes (all consume JSONL rows `{"doc_id": N, "text": "..."}`; dsir
additionally reads `lang`):
  dedup      MinHash-band near-dup rejection (live signature store)
  substring  winnow-containment rejection (live fingerprint store)
  semantic   embedding-cosine rejection (live band+embedding store)
  url        canonical-URL dedup (live keeper store)
  phash      image perceptual-hash rejection (live band store)
  dsir       DSIR importance filter (live bucket-count store)
  hll        corpus distinct-token estimate (live register store)
  cms        watchlist heavy-hitter estimates (--watchlist a,b,c)
  quantile   doc-length quantile estimates (live sampler store)
  doremi     live DoReMi mixture weights (domain-bucket sum store)

Each store has a matching offline compactor in sources/sinks.py; run
those from a maintenance job, never concurrently with ingest (the
append-marker/compaction-lock guard fails fast if you do). A
compaction killed between its two renames leaves the old store only
in its ``.pre-compact`` rollback copy; the next ingest epoch's read
(or the next compaction) restores it. A hard kill also leaves the
``.lock`` file beside the store: remove it once no compactor runs.
"""

from __future__ import annotations

import argparse
import glob
import json
import os


def _schema(mode: str) -> str:
    if mode == "dsir":
        return "doc_id long, lang string, text string"
    if mode == "doremi":
        return "doc_id long, text string, source string"
    return "doc_id long, text string"


def run(
    spark,
    mode: str,
    landing: str,
    store: str,
    out: str,
    checkpoint: str,
    watchlist: list[str] | None = None,
    max_files_per_trigger: int = 64,
) -> dict:
    from finmapreduce_spark.streaming import pipeline as P

    modes = {
        "dedup": P.serve_incremental_dedup_continuous,
        "substring": P.serve_incremental_substring_continuous,
        "semantic": P.serve_incremental_semantic_continuous,
        "url": P.serve_incremental_url_continuous,
        "phash": P.serve_incremental_phash_continuous,
        "dsir": P.serve_dsir_filter_continuous,
        "hll": P.serve_hll_distinct_continuous,
        "quantile": P.serve_quantile_sketch_continuous,
        "cms": P.serve_cms_watchlist_continuous,
        "doremi": P.serve_doremi_weights_continuous,
    }
    if mode not in modes:
        raise SystemExit(
            f"unknown --mode {mode!r}; known: {sorted(modes)}"
        )
    stream = (
        spark.readStream.schema(_schema(mode))
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(landing)
    )
    if mode == "cms":
        if not watchlist:
            raise SystemExit("--mode cms needs --watchlist tok1,tok2,...")
        writer = modes[mode](stream, watchlist, store, out, checkpoint)
    else:
        writer = modes[mode](stream, store, out, checkpoint)
    q = writer.start()
    q.awaitTermination()
    # every non-empty epoch writes its out/epoch_id=N directory, even
    # when it emits no row (substring emits only rejections)
    n_epochs = len(glob.glob(os.path.join(out, "epoch_id=*")))
    n_rows = spark.read.json(out).count()
    return {
        "mode": mode,
        "epochs": n_epochs,
        "rows_emitted": int(n_rows),
        "store": store,
        "out": out,
    }


def main(argv=None, spark=None) -> dict:
    ap = argparse.ArgumentParser(prog="finmapreduce_spark.ingest")
    ap.add_argument("--mode", required=True)
    ap.add_argument("--landing", required=True)
    ap.add_argument("--store", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--watchlist", default=None)
    ap.add_argument("--max_files_per_trigger", type=int, default=64)
    args = ap.parse_args(argv)
    own = spark is None
    if own:
        from finmapreduce_spark.session import get_spark

        spark = get_spark()
    try:
        summary = run(
            spark,
            args.mode,
            args.landing,
            args.store,
            args.out,
            args.checkpoint,
            watchlist=(
                args.watchlist.split(",") if args.watchlist else None
            ),
            max_files_per_trigger=args.max_files_per_trigger,
        )
    finally:
        spark.catalog.clearCache()
        if own:
            spark.stop()
    print(json.dumps(summary, sort_keys=True))
    return summary


if __name__ == "__main__":
    main()
