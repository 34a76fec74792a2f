"""Sources and sinks (SURVEY.md S1-S12).

Reference behavior re-expressed:
- CSV scan with header, all-string until cast (etl/2019reinvent_yellow.py:19,
  green.py:19-23) -> ``read_csv``.
- Parquet sink, path-parameterized (yellow.py:52) -> ``write_parquet`` with
  optional partitioning (the 100TB posture: partition canonical data by
  low-cardinality tag + date so partition pruning works).
- Glue crawler / catalog registration (DataDiscoveryAndConversation.rst:70-85)
  -> ``register_catalog_table`` using the Spark SQL catalog.
- DeepAR JSON Lines sink (GluePySparkMLFeatureEngineering.rst:718-742)
  -> ``write_json_lines``.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TESTDATA_TABLES = (
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


def read_csv(
    spark: SparkSession,
    path: str | list[str],
    schema: StructType | None = None,
    infer: bool = False,
) -> DataFrame:
    """CSV-with-header scan (S1/S2). Without a schema and ``infer=False``
    every column is a string — the reference's schema-on-read posture; types
    come later from canonicalize's ApplyMapping equivalent."""
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        # Crawler-equivalent (S5): sample-based inference. On 100TB inputs
        # prefer an explicit schema or samplingRatio to avoid a full pre-scan.
        reader = reader.option("inferSchema", True).option("samplingRatio", 0.1)
    return reader.csv(path)


def read_parquet(spark: SparkSession, path: str | list[str]) -> DataFrame:
    return spark.read.parquet(*(path if isinstance(path, list) else [path]))


def read_json_lines(
    spark: SparkSession,
    path: str | list[str],
    schema: StructType | None = None,
) -> DataFrame:
    """JSON-Lines scan (one object per line — the DeepAR export format and
    the generic log-ingest format). PERMISSIVE mode: malformed lines land in
    `_corrupt_record` instead of failing the job, mirroring the engine's
    CSV tolerance. Pass an explicit schema on large inputs — schema
    inference is a full pre-scan of 100 TB otherwise."""
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """ORC scan — same columnar/pushdown posture as parquet (vectorized
    reader, predicate pushdown, column pruning) for shops standardized on
    ORC at rest."""
    return spark.read.orc(*(path if isinstance(path, list) else [path]))


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def _require_avro(spark: SparkSession) -> None:
    """Avro is an EXTERNAL Spark module (spark-avro) since 2.4; this
    container ships only the Apache Avro library jars, not the data
    source. Gate with a clear capability error instead of Spark's
    deployment-guide message (same posture as multimodal's compressed-
    codec guards): on a cluster with the module deployed
    (--packages org.apache.spark:spark-avro_2.13) these entry points
    work unchanged."""
    try:
        # the exact resolution the reader/writer performs (a bare class
        # probe is wrong: spark ships some sql.avro classes without the
        # data-source registration)
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", spark._jsparkSession.sessionState().conf()
        )
    except Exception as exc:
        raise NotImplementedError(
            "Avro source requires the external spark-avro module "
            "(org.apache.spark:spark-avro); it is not deployed in this "
            "runtime — read_avro/write_avro work unchanged once it is"
        ) from exc


def read_avro(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Avro scan (row-oriented at rest; schema from the container
    metadata). Capability-gated — see _require_avro."""
    _require_avro(spark)
    return spark.read.format("avro").load(
        *(path if isinstance(path, list) else [path])
    )


def write_avro(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    _require_avro(df.sparkSession)
    df.write.mode(mode).format("avro").save(path)


def read_parquet_evolved(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Schema-evolution read: mergeSchema unions the footers of all file
    generations (fhv -> fhvhv style column additions); files missing a
    column yield nulls. Footer merging is a driver-side listing cost —
    on 100 TB prefer declaring the superset schema explicitly."""
    return (
        spark.read.option("mergeSchema", True)
        .parquet(*(path if isinstance(path, list) else [path]))
    )


# The engine's one memo for derived state: table readers, the raw-events
# range reader, spread_for_cpu decisions and fitted model state (IVF
# centroids, BPE merges). Every key starts with a short tag ("reader",
# "spread", ...), so two kinds of entry can never collide. The gather
# broadcasts in operators.similarity keep their own memo: their eviction
# must unpersist, park and later destroy a JVM broadcast, which no other
# entry needs.
_MEMO: OrderedDict = OrderedDict()
_MEMO_MAX = 256
_MEMO_LOCK = threading.Lock()
_MISS = object()


def memo(key: tuple, build: Callable[[], object]):
    """Return the value memoized under ``key``, building it on a miss.

    What may live here: logical plans over the input files, metadata
    about them (a scan's split-count decision) and deterministic model
    state fitted from them. Never query results or row data: evicting an
    entry changes timing only. LRU-bounded at ``_MEMO_MAX`` entries, so a
    long-lived service looping many source directories cannot accumulate
    plans without bound. Lock-guarded for concurrent driver threads; the
    build runs outside the lock (it does py4j I/O or Spark jobs), so two
    racing threads may build the same value twice and the last insert
    wins. Both values are equivalent, and nothing leaks.

    Contract: the files under a source directory must be immutable for
    the life of an entry. A memoized reader keeps the schema and file
    listing of its first build, a spread decision the split count of its
    first probe, and fitted state the corpus it was fitted on. Rewriting
    a table in place needs ``clear_reader_cache()`` first."""
    with _MEMO_LOCK:
        value = _MEMO.get(key, _MISS)
        if value is not _MISS:
            _MEMO.move_to_end(key)
            return value
    value = build()
    with _MEMO_LOCK:
        _MEMO[key] = value
        while len(_MEMO) > _MEMO_MAX:
            _MEMO.popitem(last=False)
    return value


def clear_reader_cache() -> None:
    """Empty the memo: every reader, spread decision and fitted model
    state derived from any source directory (e.g. between tenants in a
    service, or after rewriting a table in place)."""
    with _MEMO_LOCK:
        _MEMO.clear()


@contextmanager
def cached(df: DataFrame) -> Iterator[DataFrame]:
    """The package's one owner of persisted frames: persist ``df`` on
    entry, yield it, unpersist it on exit (also on error), so no call
    leaves a cached frame behind in a long-lived session. Release is by
    the persisted original, never a frame derived from it (unpersist
    matches plans, so releasing a reassigned frame would silently do
    nothing). A result that depends on the cached frame must not escape
    the block lazily: return ``out.localCheckpoint(eager=True)`` from
    inside it, or the caller's action recomputes what the cache held."""
    df.persist()
    try:
        yield df
    finally:
        df.unpersist(blocking=False)


def spread_for_cpu(df: DataFrame) -> DataFrame:
    """Rebalance a scan whose split count is below the cluster's core
    count before a CPU-bound per-row stage (regex/tokenize/hash kernels).

    Parquet scan parallelism is byte-driven (files.maxPartitionBytes), so
    a small-but-compute-heavy table — a 40 MB documents file, say — lands
    on 1-2 tasks and serializes a kernel that is pennies to shuffle but
    seconds to run. At corpus scale the scan has thousands of splits and
    this is a no-op (no shuffle inserted); it only pays the (tiny) spread
    shuffle exactly when the input can't saturate the cores.

    The probe (``getNumPartitions``) plans a fresh plan physically, ~50-105
    ms on local[32], so the decision is memoized on what it depends on:
    the canonicalized plan (``semanticHash``, analysis only, so per-call
    rebuilds of the same projection hit), ``defaultParallelism`` and
    ``maxPartitionBytes``. A hash collision could only flip the
    partitioning decision, which no query's values depend on."""
    sc = df.sparkSession.sparkContext
    dp = sc.defaultParallelism

    def probe() -> bool:
        return df.rdd.getNumPartitions() < dp

    try:
        key = (
            "spread",
            id(sc),
            df.semanticHash(),
            dp,
            df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", ""),
        )
    except Exception:
        needs = probe()
    else:
        needs = memo(key, probe)
    return df.repartition(dp) if needs else df


def local_df(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """Driver-local rows -> DataFrame via the Arrow path (guide §4/§6.4).

    ``createDataFrame(list_of_tuples)`` parallelizes pickled rows into
    defaultParallelism slices, so EVERY downstream action pays a ~0.3-0.4 s
    Python-runner scan job for even an 8-row frame (measured steady-state
    on local[32]; the Arrow/pandas route is ~0.08-0.12 s). Result frames of
    contract queries, query batches, lexicons and component labels are all
    built here, so the fixed cost is paid once per bench/oracle invocation
    each. Values are unchanged: the explicit schema drives the Arrow
    conversion, and the non-Arrow fallback (on any conversion error) is the
    exact old path. The pandas frame is built with object dtype so a None
    in a float column stays a SQL NULL (default float64 inference would
    silently turn it into NaN — a value change the oracle would catch)."""
    rows = rows if isinstance(rows, list) else list(rows)
    if rows:
        try:
            import pandas as pd

            return spark.createDataFrame(
                pd.DataFrame([tuple(r) for r in rows], dtype=object), schema
            )
        except Exception:
            pass  # unsupported shape for Arrow -> pickled-row path below
    return spark.createDataFrame(rows, schema)


def read_testdata(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one driver-generated table from a scale-factor directory.

    events.parquet encoding varies by testdata generation:
    - TIMESTAMP(MICROS) without isAdjustedToUTC (current): read as TIMESTAMP
      (LTZ) via inferTimestampNTZ=false — a plain scan column, predicates
      push down, instants match DuckDB's naive-UTC read exactly.
    - TIMESTAMP(NANOS) (older): Spark's reader has no nanos type; with
      spark.sql.legacy.parquet.nanosAsLong the column arrives as bigint
      nanos and we truncate to micros (``div 1000`` — floor for positive
      epochs), matching DuckDB's ns->us behavior. ``ts`` is then DERIVED, so
      range predicates cannot reach the scan — use ``read_events_ts_range``,
      which filters the raw bigint first (monotone transform)."""
    if table not in TESTDATA_TABLES:
        raise ValueError(f"unknown table {table!r}; expected one of {TESTDATA_TABLES}")
    if table == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            # micros-encoded generations: read as TIMESTAMP (LTZ), not NTZ,
            # so instant semantics match engine-written tables and filters
            # stay pushdown-able scan predicates (session.py rationale).
            spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        except Exception:
            pass
    df = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
    ts_type = dict(df.dtypes).get("ts")
    if table == "events" and ts_type == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif table == "events" and ts_type == "timestamp_ntz":
        # Conf not applied before this scan (externally-built reader): cast
        # NTZ -> LTZ under the pinned UTC session = the same instants.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _t(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Memoized ``read_testdata``: DataFrames are immutable logical plans,
    so one reader per (session, dir, table) is safe to share across queries
    and skips the repeated file-listing/footer-read at construction time
    (~0.1-0.4s each — material when the driver loops the whole registry).
    The source of the registry queries and of the SQL surface's temp views
    (sql_surface.register_views)."""
    return memo(("reader", spark, sf_dir, table),
                lambda: read_testdata(spark, sf_dir, table))


def _utc_micros(ts: str) -> int:
    """Epoch microseconds of an ISO timestamp/date string, UTC (the session
    timezone is pinned to UTC by pin_session_conf)."""
    import calendar
    from datetime import datetime

    dt = datetime.fromisoformat(ts)
    return calendar.timegm(dt.timetuple()) * 1_000_000 + dt.microsecond


def read_events_ts_range(
    spark: SparkSession,
    sf_dir: str,
    lower: str | None = None,
    upper: str | None = None,
    *,
    lower_inclusive: bool = False,
    upper_inclusive: bool = False,
) -> DataFrame:
    """Events scan with a ts-range predicate PUSHED INTO the parquet reader.

    ``read_testdata`` derives ``ts`` post-scan (``timestamp_micros(ts div
    1000)`` over the NANOS-encoded raw column), so predicates written against
    the derived column evaluate after projection and never reach the scan.
    ``floor(ns/1000)`` is monotone, so a bound T (micros ``T_us``) translates
    exactly to the raw bigint column:

        ts >  T  <=>  raw_ns >= (T_us+1)*1000       ts >= T  <=>  raw_ns >= T_us*1000
        ts <  T  <=>  raw_ns <   T_us*1000          ts <= T  <=>  raw_ns <  (T_us+1)*1000

    The raw-column filter sits directly on the scan (PushedFilters in the
    plan — asserted by tests/test_parity_extras.py), and the min/max
    row-group statistics prune at the reader. At 100 TB this is the
    difference between reading the whole table and reading the matching
    row groups only. Identical result semantics to filtering the derived
    ``ts`` — verified by the unchanged oracle hashes of the range queries."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass
    df = memo(("events_raw", spark, sf_dir), lambda: spark.read.parquet(
        os.path.join(sf_dir, "events.parquet")))
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "timestamp_ntz":
        # NTZ scan (conf missed before the cached reader was built): compare
        # against NTZ literals so the bounds STILL push into the scan, then
        # cast to LTZ (UTC session = same instants) for downstream parity.
        if lower is not None:
            lo = F.lit(lower).cast("timestamp_ntz")
            df = df.where(F.col("ts") >= lo if lower_inclusive else F.col("ts") > lo)
        if upper is not None:
            hi = F.lit(upper).cast("timestamp_ntz")
            df = df.where(F.col("ts") <= hi if upper_inclusive else F.col("ts") < hi)
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if ts_type == "bigint":
        if lower is not None:
            lo_us = _utc_micros(lower)
            df = df.where(
                F.col("ts") >= (lo_us if lower_inclusive else lo_us + 1) * 1000
            )
        if upper is not None:
            hi_us = _utc_micros(upper)
            df = df.where(
                F.col("ts") < (hi_us + 1 if upper_inclusive else hi_us) * 1000
            )
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # micros-encoded events (engine-written tables): plain pushdown-able filters
    if lower is not None:
        lo = F.lit(lower).cast("timestamp")
        df = df.where(F.col("ts") >= lo if lower_inclusive else F.col("ts") > lo)
    if upper is not None:
        hi = F.lit(upper).cast("timestamp")
        df = df.where(F.col("ts") <= hi if upper_inclusive else F.col("ts") < hi)
    return df


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = 5_000_000,
    compression: str = "zstd",
) -> None:
    """Parquet sink (S4). ``mode='append'`` matches the reference's nightly
    incremental append. ``partition_by`` is the scale lever: the canonical
    taxi table partitions by (type, pickup_date) so per-type/per-day queries
    prune instead of scanning 100TB. maxRecordsPerFile bounds file size
    without a coalesce() that would throttle write parallelism (the
    reference's green.py:45 coalesce(5) does not survive scale-up)."""
    writer = df.write.mode(mode).option("compression", compression)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def register_catalog_table(
    spark: SparkSession,
    database: str,
    table: str,
    path: str,
    partition_by: list[str] | None = None,
) -> None:
    """Catalog database + external-table registration (S5/S6): the engine's
    crawler equivalent. Schema comes from parquet footers, not sampling.

    Partitioned locations MUST declare ``partition_by``: a bare
    ``CREATE TABLE ... LOCATION`` treats the dir as unpartitioned and reads
    ZERO rows from type=x/ subdirs. With it, the table is created with an
    explicit schema + PARTITIONED BY and partitions are recovered (MSCK) —
    the crawler's partition-discovery step."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    if partition_by:
        df = spark.read.parquet(path)
        data_cols = [f for f in df.schema.fields if f.name not in partition_by]
        part_cols = [f for f in df.schema.fields if f.name in partition_by]
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in data_cols + part_cols
        )
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {database}.{table} ({ddl}) "
            f"USING parquet PARTITIONED BY ({', '.join(partition_by)}) "
            f"LOCATION '{path}'"
        )
        spark.sql(f"MSCK REPAIR TABLE {database}.{table}")
    else:
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {database}.{table} "
            f"USING parquet LOCATION '{path}'"
        )


def write_json_lines(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON Lines sink (S7): one JSON object per row, matching the
    reference's DeepAR export contract {"start": ..., "target": [...]}."""
    df.write.mode(mode).json(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (the co-located-join lever from SURVEY §4 /
    the 100TB posture): rows are hash-partitioned into ``num_buckets`` files
    per partition ON WRITE, so joins/aggregations on the bucket columns
    read pre-shuffled data — no Exchange at query time. Use for fact tables
    joined repeatedly on the same key (lineitem x orders on orderkey)."""
    writer = df.write.mode(mode).format("parquet").bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_parquet_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = 5_000_000,
    compression: str = "zstd",
) -> None:
    """Parquet sink with intra-file clustering: rows are sorted WITHIN each
    task partition on ``cluster_by`` before writing, so parquet row-group
    min/max statistics become narrow and selective range scans skip whole
    row groups at the reader (the poor-man's Z-order for a single sort
    dimension). sortWithinPartitions is a local sort — no shuffle, no
    global order; write parallelism is unchanged. Combine with
    ``partition_by`` for directory-level pruning on a second column."""
    clustered = df.sortWithinPartitions(*cluster_by)
    writer = clustered.write.mode(mode).option("compression", compression)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def with_zorder_key(
    df: DataFrame,
    zorder_by: list[str],
    bits: int = 12,
    key_col: str = "_zkey",
    mapping: str = "linear",
) -> DataFrame:
    """Append a Z-order (Morton) key interleaving ``bits`` bits from each
    of ``zorder_by``'s columns — the multi-dimensional upgrade of
    write_parquet_clustered's single-dimension sort (its docstring calls
    itself the poor-man's Z-order; this is the real one, the published
    OPTIMIZE ZORDER layout story). Sorting by the interleaved key keeps
    rows that are close in EVERY dimension close in the file order, so
    parquet min/max statistics become selective on ALL the z-columns at
    once instead of only the leading sort column.

    Coordinate mapping (``mapping=``):

    * ``'linear'`` (default): each column min-max scaled to [0, 2^bits)
      with one corpus aggregate (broadcast back as scalars — same shape
      as unigram_logprob_scores' totals gather). Deterministic and
      SQL-re-derivable, which is what puts this key under a full value
      oracle (zorder_key_probe); the trade is outlier sensitivity — one
      extreme value collapses every other row into a few cells,
      degrading (never breaking) the layout.
    * ``'rank'`` (r11, VERDICT r10 #4 — Delta's range_partition_id
      analogue): each column's coordinate is its RANGE-SPLIT id from a
      ``repartitionByRange(2^bits, col)`` pass — sampled boundaries put
      ~equal row counts in every cell, so heavy tails and outliers cost
      one cell instead of the whole coordinate space. One extra range
      shuffle per z-column (acceptable for a write-once OPTIMIZE job);
      boundary sampling makes the exact cell edges data-dependent, so
      rank mode is for LAYOUT (pytest-verified narrowing) while linear
      stays the oracle-exact conformance mapping.

    NULL and constant columns map to coordinate 0 (nulls sort first in
    rank mode). The interleave itself is whole-stage-codegen built-ins:
    shiftright/&/shiftleft per bit, OR-folded — no UDF.

    ``bits * len(zorder_by)`` must fit a signed long (<= 60 enforced);
    the default 12 bits x up to 5 columns keeps 4096 distinct cells per
    dimension — row-group-grained, which is the granularity parquet
    stats prune at anyway."""
    import functools

    k = len(zorder_by)
    if k < 2:
        raise ValueError("zorder needs >= 2 columns (use clustered write "
                         "for a single sort dimension)")
    if bits * k > 60:
        raise ValueError(
            f"bits*columns = {bits * k} exceeds the signed-long budget (60)"
        )
    if mapping not in ("linear", "rank"):
        raise ValueError(
            f"mapping must be 'linear'|'rank', got {mapping!r}"
        )
    # fail fast on name collisions: withColumn would silently REPLACE a
    # pre-existing key_col (and the zordered sink then drops it — user
    # data lost from the written files), and pre-existing bound names
    # would make the broadcast crossJoin ambiguous
    reserved = {key_col} | {
        n
        for c in zorder_by
        for n in (f"_zmin_{c}", f"_zmax_{c}", f"_zrank_{c}")
    }
    clash = sorted(reserved & set(df.columns))
    if clash:
        raise ValueError(
            f"zorder scratch column(s) {clash} already exist in the input "
            f"frame; rename them or pass a different key_col"
        )
    scratch: list[str] = []
    if mapping == "rank":
        cells = 1 << bits
        out = df
        coords = []
        for c in zorder_by:
            # range split id == rank bucket: the partitioner's sampled
            # boundaries give ~|df|/cells rows per bucket regardless of
            # the value distribution; monotone in the column, so the
            # Morton interleave sees a rank-space coordinate
            out = out.repartitionByRange(
                cells, F.col(c).asc_nulls_first()
            ).withColumn(
                f"_zrank_{c}", F.spark_partition_id().cast("long")
            )
            scratch.append(f"_zrank_{c}")
        coords = [F.col(f"_zrank_{c}") for c in zorder_by]
    else:
        aggs = []
        for c in zorder_by:
            aggs.append(F.min(F.col(c).cast("double")).alias(f"_zmin_{c}"))
            aggs.append(F.max(F.col(c).cast("double")).alias(f"_zmax_{c}"))
        bounds = df.agg(*aggs)
        top = (1 << bits) - 1
        out = df.crossJoin(F.broadcast(bounds))
        coords = []
        for c in zorder_by:
            lo, hi = F.col(f"_zmin_{c}"), F.col(f"_zmax_{c}")
            span = hi - lo
            scaled = F.when(
                F.col(c).isNull() | (span <= 0), F.lit(0).cast("long")
            ).otherwise(
                F.least(
                    F.lit(top).cast("long"),
                    F.greatest(
                        F.lit(0).cast("long"),
                        F.floor(
                            (F.col(c).cast("double") - lo) / span * top
                        ).cast("long"),
                    ),
                )
            )
            coords.append(scaled)
        scratch.extend(f"_zmin_{c}" for c in zorder_by)
        scratch.extend(f"_zmax_{c}" for c in zorder_by)
    terms = [
        F.shiftleft(
            F.shiftright(coord, i).bitwiseAND(F.lit(1)), i * k + j
        )
        for j, coord in enumerate(coords)
        for i in range(bits)
    ]
    # Column.bitwiseOR, not the | operator — | on Columns is LOGICAL or
    zkey = functools.reduce(lambda a, b: a.bitwiseOR(b), terms)
    return out.withColumn(key_col, zkey.cast("long")).drop(*scratch)


def write_parquet_zordered(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    bits: int = 12,
    n_files: int | None = None,
    mode: str = "overwrite",
    compression: str = "zstd",
    mapping: str = "linear",
) -> None:
    """Parquet sink with Z-order layout: rows are range-partitioned AND
    locally sorted on the interleaved key (with_zorder_key), so each
    output file covers a disjoint z-range — file-level AND row-group
    min/max stats become narrow on EVERY z-column, and a selective scan
    filtering on any combination of them skips whole files the
    single-dimension clustered write could only skip for its leading
    column. One range shuffle (sampled boundaries) is the entire cost;
    the key column never reaches the files.

    ``mapping='rank'`` (see with_zorder_key) swaps min-max coordinate
    scaling for range-split ranks — use for heavy-tailed z-columns where
    one outlier would collapse the linear coordinates."""
    keyed = with_zorder_key(df, zorder_by, bits, mapping=mapping)
    parts = (
        keyed.repartitionByRange(n_files, "_zkey")
        if n_files
        else keyed.repartitionByRange("_zkey")
    )
    (
        parts.sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode(mode)
        .option("compression", compression)
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 256 * 1024 * 1024,
    compression: str = "zstd",
) -> tuple[int, int]:
    """Small-files compaction — the table-maintenance fix for the classic
    scale killer (a streaming or over-parallelized writer leaving thousands
    of KB-sized files that turn every downstream scan into a
    listing/open-per-file storm). Reads the source, sizes the output at
    ``ceil(total_bytes / target_file_bytes)`` files via the Hadoop
    FileSystem API (works on any supported filesystem, not just local),
    and rewrites with coalesce — coalesce, not repartition, because
    reducing file count needs no shuffle, only fewer write tasks.

    Writes to ``dst`` (side-by-side, then swap at the catalog/orchestration
    layer) rather than in place — an in-place overwrite that fails midway
    destroys the table. Returns (n_input_files, n_output_files)."""
    import math

    df = spark.read.parquet(src)
    files = df.inputFiles()
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    for f in files:
        p = jvm.org.apache.hadoop.fs.Path(f)
        total += p.getFileSystem(conf).getFileStatus(p).getLen()
    n_out = max(1, math.ceil(total / target_file_bytes))
    (
        df.coalesce(n_out)
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(dst)
    )
    n_written = len(spark.read.parquet(dst).inputFiles())
    return len(files), n_written
