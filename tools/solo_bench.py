"""Measure a subset of catalog queries with bench.py's exact loop.

  python tools/solo_bench.py <query> [query ...]

Same methodology as bench.py (df.count() timed, median of 3 trials —
5 for ITERATIVE_LANES —, clearCache + blocking persistent-RDD release
between trials, per-query shuffle read/write bytes from the UI API),
so a before/after pair measured with this tool is directly comparable
to the headline bench on the same host. Used by the round-15
optimization log for adjacent same-host A/B pairs without paying a
full 71-query sweep per change.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import ITERATIVE_LANES, _shuffle_probe
from finmapreduce_spark.operators.checkpoints import release_all_persistent_rdds
from finmapreduce_spark.queries import all_queries
from finmapreduce_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: solo_bench.py <query> [query ...]")
        return
    spark = get_spark("solo_bench", extra_conf={"spark.ui.enabled": "true"})
    spark.range(1).count()
    qs = all_queries()
    probe = _shuffle_probe(spark)
    n_trials = max(1, int(os.environ.get("BENCH_TRIALS", "3")))
    out = {}
    for name in names:
        spec = qs[name]
        before = probe() if probe else None
        per_trial = []
        n = None
        lane_trials = max(n_trials, 5) if name in ITERATIVE_LANES else n_trials
        for t in range(lane_trials):
            t0 = time.time()
            df = spec.spark(spark, SF_DIR)
            n_t = df.count()
            per_trial.append(round(time.time() - t0, 3))
            if n is None:
                n = n_t
            elif n_t != n:
                print(f"ROWS DRIFTED {name}: {n} vs {n_t}", file=sys.stderr)
            spark.catalog.clearCache()
            df = None
            gc.collect()
            release_all_persistent_rdds(spark)
            if t == 0 and probe is not None:
                after1 = probe()
                if before is not None and after1 is not None:
                    new = {k: v for k, v in after1.items() if k not in before}
                    out.setdefault(name, {})["shuffle_mb"] = {
                        "read": round(sum(v[0] for v in new.values()) / 1e6, 3),
                        "write": round(sum(v[1] for v in new.values()) / 1e6, 3),
                    }
        out.setdefault(name, {})
        out[name]["median"] = round(sorted(per_trial)[len(per_trial) // 2], 3)
        out[name]["trials"] = per_trial
        out[name]["rows"] = n
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
