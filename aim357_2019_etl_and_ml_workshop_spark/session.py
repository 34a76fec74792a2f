"""SparkSession factory with a 100TB-posture default config.

The reference ran Glue 1.0 / Spark on 5-10 workers (BASELINE.md); here we
configure one session that behaves well both on local[32] test runs and on a
large cluster: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), UTC session timezone (oracle comparability + determinism),
Arrow-accelerated pandas interchange, and shuffle partitions sized to the
environment rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conf that is safe to (re)apply at runtime on an existing session.
_RUNTIME_CONF = {
    # Determinism + duckdb-oracle comparability (Spark ts are session-TZ;
    # parquet/duckdb are UTC-naive).
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime partition coalescing, skew-join handling, plan re-opt.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for toPandas()/pandas_udf: batch columnar transfer, not per-row.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parity with ANSI-less reference semantics: CAST of bad data -> NULL,
    # matching Glue ApplyMapping / DuckDB TRY_CAST (SURVEY.md P2).
    "spark.sql.ansi.enabled": "false",
    # Testdata events.parquet carries TIMESTAMP(NANOS); Spark has no nanos
    # timestamp, so read as bigint nanos and convert (sources.io does the
    # div-1000 truncation that matches DuckDB's ns->us behavior).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet timestamps without isAdjustedToUTC read as TIMESTAMP (LTZ,
    # session TZ = UTC above) rather than TIMESTAMP_NTZ: keeps instant
    # semantics (epoch casts, unix_timestamp arithmetic) identical to
    # engine-written micros tables and to DuckDB's naive-UTC read, and the
    # column stays a scan column so ts predicates push into the reader.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


# Marker conf proving THIS session already ran the full pin below. Every
# registry query entrypoint calls pin_session_conf at build time, and the
# full pin is ~12 py4j round trips (the cluster-conf `contains` probe alone
# measured ~26 ms steady-state) — a real fraction of every sub-second
# query's wall clock when the bench builds each query fresh per timed run
# (r13, VERDICT r12 next #4). The marker collapses repeat pins to ONE
# conf.get round trip (~0.2 ms). Session-scoped state lives in the session
# itself (no driver-side registry to go stale across wrapper objects);
# re-pin contract: callers that deliberately mutate engine conf mid-session
# (tests do, via spark.conf.set) must also clear this marker — or simply
# not rely on entrypoints to undo their change, which was already true:
# the old per-call pin only reset the _RUNTIME_CONF keys, nothing else.
_PIN_MARKER = "spark.aim357.sessionConfPinned"


def pin_session_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an externally-created session.

    The correctness driver constructs its own SparkSession; every public
    query entrypoint routes through this so results do not depend on the
    caller's timezone / ANSI defaults. Idempotent and memoized in-session:
    after the first full application a marker conf short-circuits repeat
    calls (see _PIN_MARKER).

    Static conf cannot be retrofitted here. In particular the codegen
    cache size that get_spark sets (spark.sql.codegen.cache.maxEntries)
    must be passed at submit time, e.g.
    ``--conf spark.sql.codegen.cache.maxEntries=2000``; without it an
    externally-built session recompiles the classes its 100-entry
    default evicts on every warm pass (results are unchanged).
    """
    try:
        if spark.conf.get(_PIN_MARKER, None) == "1":
            return spark
    except Exception:
        pass
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build: keep going, defaults are sane
    # Shuffle width DERIVED from the deployment's core budget, not a
    # constant (r12 — the previous hard-coded "32" here silently
    # overwrote get_spark's cores-derived builder value, so a
    # ?-core driver run still shuffled into 32 partitions; identical
    # value at the local 32-core default, scale-adaptive elsewhere).
    # r13 (ADVICE): the budget comes from sparkContext.defaultParallelism
    # — the CLUSTER's total cores — not the driver machine's cpu_count,
    # which on a multi-executor deployment would clamp shuffle width to
    # the driver box (AQE only coalesces downward, so that caps
    # parallelism). On local[$SPARK_GRAFT_CPUS] the two are identical, so
    # the driver bench is unaffected. A width the caller set explicitly
    # at submit/builder time (visible in the SparkContext conf) is
    # respected — cluster operators size this by data volume, with AQE
    # coalescing below it.
    # Externally-created sessions (the driver's) otherwise default to
    # 200 — over-parallelized for local runs; AQE still coalesces below
    # this at execution time.
    try:
        sc = spark.sparkContext
        if not sc.getConf().contains("spark.sql.shuffle.partitions"):
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(max(sc.defaultParallelism, 8)),
            )
    except Exception:
        pass
    # Scan-split sizing is deployment-dependent: 128 MB splits are right
    # for a multi-executor cluster (bounded task count at 100 TB), but on
    # a single-node local master they leave a whole small-SF table in 1-2
    # tasks while 30 cores idle — DuckDB parallelizes the same file by
    # row group. 16 MB splits restore intra-file parallelism locally;
    # runtime-settable, so the driver's vanilla session gets it too.
    try:
        if spark.sparkContext.master.startswith("local"):
            spark.conf.set(
                "spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024)
            )
            # Same deployment split for AQE's post-shuffle coalescing: the
            # 1 MB default minPartitionSize lets a byte-tiny but CPU-heavy
            # shuffle (e.g. a blocked fuzzy-match join whose output stage
            # runs millions of levenshteins over a few MB of candidate
            # rows) collapse onto 2-3 of 32 cores. 64 KB keeps such stages
            # at full local parallelism; cluster deployments keep the
            # default (there, 1 MB partitions are pure scheduling
            # overhead and compute-per-byte is amortized by real data).
            spark.conf.set(
                "spark.sql.adaptive.coalescePartitions.minPartitionSize",
                str(64 * 1024),
            )
    except Exception:
        pass
    try:
        spark.conf.set(_PIN_MARKER, "1")
    except Exception:
        pass
    return spark


def get_spark(app_name: str = "aim357-spark-engine", master: str | None = None) -> SparkSession:
    """Build (or reuse) the engine session.

    On a real cluster `master` comes from spark-submit; locally we default to
    local[$SPARK_GRAFT_CPUS]. Shuffle partitions ~ cores locally; on a
    cluster AQE coalesces the 2x-cores initial number downward at runtime.
    """
    # One BLAS thread per Python worker: Spark already assigns one task
    # per core, so a multithreaded OpenBLAS inside each of 32 workers
    # spawns 32x32 spinning threads whose sched_yield busy-wait is pure
    # kernel time (measured on the tiled-matmul sweep: 92-98% SYSTEM cpu,
    # 310 s -> 27 s at sf10 with this pin + buffer reuse; standalone, the
    # same 8 tiles cost 40 CPU-s multithreaded vs 9 single-threaded).
    # setdefault: an operator who wants a different BLAS layout can still
    # export their own value before launching. Must be set before the JVM
    # spawns — Python workers inherit the executor JVM's environment.
    for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(_v, "1")
    cores = _default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.default.parallelism", str(max(cores, 8)))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Generated-class cache sized to the plan working set. Spark keeps
        # 100 classes by default; on local[4] one pass of the taxi ETL
        # generates 126 distinct classes, the LLM-curation pass 119 and
        # the 33-query headline suite about 401, so every warm pass
        # evicted and recompiled 93-108 classes (and HotSpot JIT-compiled
        # them again). Static conf: read once when the JVM-wide cache is
        # built, so pin_session_conf cannot apply it to a running session.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cores}]")
    spark = builder.getOrCreate()
    return pin_session_conf(spark)
