"""Guarded scan-parallelism floor (guide §6: ``minPartitionNum`` sets
a floor on scan parallelism — applied per-lane, not as a session conf,
because a global ``spark.sql.files.minPartitionNum`` would change the
loaders' monotonically_increasing_id assignment and with it declared
query results at small scale factors).

A small corpus scans into ONE split (maxSplitBytes floors at
openCostInBytes), so every narrow lane downstream — tokenizer encodes,
signature builds, Arrow LLM stages — runs serially on one core until
its first shuffle, no matter how many cores the session has.  The
floor repartitions up to ``defaultParallelism`` ONLY when the plan has
fewer partitions: a no-op at production scale (real corpora scan into
thousands of splits, so nothing is shuffled) and a full-width spread
locally.  Because ``defaultParallelism`` follows the master's core
count, the driver's reduced-core bench runs keep measuring genuine
scaling, not a hard-coded width.

The floor never widens past the optimizer's known ``rowCount``: N rows
can fill at most N partitions, and every partition past that is a
Python task with nothing to do (each still pays a worker round trip,
and PySpark's per-task import-cache invalidation).  A one-row plan --
the serving path's ``LocalRelation`` upload -- is returned untouched
without compiling a physical plan.  File scans carry no row count, so
they floor exactly as before.  Under CBO the count is an estimate; a
wrong one costs width, never rows.

Keys must be given and deterministic (hash repartition): a keyless
round-robin repartition pays a sort of its input and — worse — can
duplicate or lose rows if a fetch failure replays a nondeterministic
upstream (SPARK-38388 class).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def scan_floor(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition ``df`` by ``keys`` up to defaultParallelism -- capped
    at the plan's known row count -- iff the current plan has fewer
    partitions.  Results are unchanged (hash partitioning is
    deterministic and every caller's output is partitioning-
    independent); the only plan delta is one Exchange that exists
    exactly when the input is narrower than the session.
    """
    if not keys:
        # explicit raise, not assert: stripped under `python -O` an
        # assert would let a keyless call fall through to the
        # round-robin repartition the module docstring forbids
        raise ValueError("scan_floor needs deterministic partition keys")
    target = df.sparkSession.sparkContext.defaultParallelism
    rows = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
    if rows.isDefined():
        target = min(target, max(int(rows.get()), 1))
    if target <= 1:
        return df
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target, *keys)
    return df
