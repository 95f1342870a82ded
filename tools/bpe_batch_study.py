#!/usr/bin/env python
"""Sequential vs top-M batched BPE at real merge counts (SCALE.md).

The batched trainer's claim is |vocab| -> |vocab|/M driver round-trips
(one corpus-wide pair-count shuffle + one bounded 64-row collect per
ROUND instead of per MERGE). The catalog query demonstrates the
mechanism at toy constants (2 rounds x M=2); this study measures the
claim at >= 64 effective merges:

    PYTHONPATH=. python tools/bpe_batch_study.py --merges 64 --batch 8

Prints one JSON line per arm: wall seconds, driver round-trips
(= corpus-count shuffles = collects), merges produced, and the overlap
between the two arms' merge sets (batched selection may legitimately
diverge after round one -- new pairs created by a merge never compete
within its own round; full-closure skips can also leave a round short).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def gen_vocab_corpus(out_dir: str, n_words: int) -> str:
    """Materialize ``{out_dir}/documents.parquet``: a deterministic
    wide-vocabulary corpus for the vocab-scale trainer study. The
    driver-generated testdata holds only ~31 distinct [a-z]+ words —
    BPE exhausts at ~89 merges on it at ANY scale factor — so merge
    capacity, not corpus bytes, is what this corpus widens: ``n_words``
    unique md5-derived pseudo-words (4-10 letters) under a zipf weight
    profile, one row per word with the word repeated ``weight`` times
    (the trainer consumes the word-weight table, so this layout IS the
    designed table). Everything is hash-derived — identical across
    machines and rounds."""
    import hashlib
    import os

    import duckdb

    words: list[str] = []
    seen: set[str] = set()
    i = 0
    while len(words) < n_words:
        h = hashlib.md5(f"w{i}".encode()).digest()
        w = "".join(chr(97 + b % 26) for b in h[: 4 + i % 7])
        i += 1
        if w in seen:
            continue
        seen.add(w)
        words.append(w)
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d(doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    rows = []
    for rank, w in enumerate(words):
        weight = max(1, n_words // (rank + 1))  # zipf-ish profile
        text = (" " + w) * weight
        rows.append((rank, text, "en", "bpe_study", len(text)))
    con.executemany("INSERT INTO d VALUES (?,?,?,?,?)", rows)
    con.execute(
        f"COPY d TO '{out_dir}/documents.parquet' (FORMAT PARQUET)"
    )
    con.close()
    return out_dir


def vocab_scale(args) -> int:
    """Vocab-scale arm (VERDICT r10 #5): train >= --merges merges with
    the BATCHED trainer at tuned (--batch, --window), pin the merge
    sequence BYTE-IDENTICAL to the pure-Python twin
    (functions/mini_bpe.py::py_train_batched) over the same word
    table, and report rounds / wall / per-round constants — the
    measured form of the |vocab|/M driver-round-trip argument.

        PYTHONPATH=. python tools/bpe_batch_study.py --twin-parity \
            --merges 4096 --batch 16 --window 128 --sf-dir DIR
    """
    from finmapreduce_spark.functions.mini_bpe import py_train_batched
    from finmapreduce_spark.queries.training import (
        _bpe_train_batched,
        _bpe_words,
    )
    from finmapreduce_spark.session import get_spark

    spark = get_spark("bpe-vocab-study")
    spark.range(1).count()  # warm up

    if args.gen_vocab:
        args.sf_dir = gen_vocab_corpus(
            f"/tmp/fmr_bpe_vocab_{args.gen_vocab}", args.gen_vocab
        )
        print(json.dumps({"arm": "gen_corpus", "dir": args.sf_dir,
                          "n_words": args.gen_vocab}))

    rounds = (args.merges + args.batch - 1) // args.batch
    t0 = time.time()
    rows, toks = _bpe_train_batched(
        spark,
        args.sf_dir,
        rounds=rounds,
        batch=args.batch,
        cand_window=args.window,
    )
    wall = round(time.time() - t0, 2)
    toks.unpersist()
    # the twin trains on the SAME word table (driver-side: it is the
    # corpus-compressed distinct-word vocabulary, |vocab| rows)
    t1 = time.time()
    words = {
        r["w"]: int(r["weight"])
        for r in _bpe_words(spark, args.sf_dir).collect()
    }
    twin = py_train_batched(
        words, rounds=rounds, batch=args.batch, cand_window=args.window
    )
    twin_wall = round(time.time() - t1, 2)
    got = [tuple(pair.split(" ")) for _rk, pair, _m, _c in rows]
    parity = got == twin
    print(
        json.dumps(
            {
                "arm": f"vocab_scale_m{args.batch}_w{args.window}",
                "merges": len(rows),
                "rounds_requested": rounds,
                "round_trips": rounds,
                "wall_sec": wall,
                "sec_per_round": round(wall / max(rounds, 1), 3),
                "n_distinct_words": len(words),
                "twin_wall_sec": twin_wall,
                "twin_merges": len(twin),
                "byte_identical_to_twin": parity,
            }
        )
    )
    if not parity:
        diverge = next(
            (i for i, (a, b) in enumerate(zip(got, twin)) if a != b),
            min(len(got), len(twin)),
        )
        print(
            json.dumps(
                {
                    "arm": "divergence",
                    "first_diff_index": diverge,
                    "spark": got[max(0, diverge - 1) : diverge + 2],
                    "twin": twin[max(0, diverge - 1) : diverge + 2],
                }
            )
        )
        return 1
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--merges", type=int, default=64)
    ap.add_argument("--batch", type=int, default=8)
    ap.add_argument("--window", type=int, default=64)
    ap.add_argument(
        "--twin-parity",
        action="store_true",
        help="vocab-scale arm: batched trainer vs pure-Python twin",
    )
    ap.add_argument(
        "--gen-vocab",
        type=int,
        default=0,
        help="generate a deterministic N-word zipf corpus and train on it",
    )
    args = ap.parse_args()

    if args.twin_parity:
        return vocab_scale(args)

    from finmapreduce_spark.queries.training import _bpe_train_batched
    from finmapreduce_spark.session import get_spark

    spark = get_spark("bpe-batch-study")
    spark.range(1).count()  # warm up

    t0 = time.time()
    seq_rows, toks = _bpe_train_batched(
        spark, args.sf_dir, rounds=args.merges, batch=1
    )
    toks.unpersist()
    seq = {
        "arm": "sequential",
        "wall_sec": round(time.time() - t0, 2),
        "round_trips": args.merges,  # one count shuffle + collect per merge
        "merges": len(seq_rows),
    }
    print(json.dumps(seq))

    rounds = (args.merges + args.batch - 1) // args.batch
    t0 = time.time()
    bat_rows, toks = _bpe_train_batched(
        spark, args.sf_dir, rounds=rounds, batch=args.batch
    )
    toks.unpersist()
    bat = {
        "arm": f"batched_m{args.batch}",
        "wall_sec": round(time.time() - t0, 2),
        "round_trips": rounds,  # one count shuffle + 64-row collect per round
        "merges": len(bat_rows),
    }
    print(json.dumps(bat))

    seq_pairs = {p for _, p, _m, _c in seq_rows}
    bat_pairs = {p for _, p, _m, _c in bat_rows}
    print(
        json.dumps(
            {
                "arm": "agreement",
                "common_merges": len(seq_pairs & bat_pairs),
                "seq_only": len(seq_pairs - bat_pairs),
                "bat_only": len(bat_pairs - seq_pairs),
                "speedup": round(seq["wall_sec"] / max(bat["wall_sec"], 1e-9), 2),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
