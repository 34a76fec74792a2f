"""Conformance query registry (SURVEY.md §2 inventory -> driver testdata).

Every entry is one declared operator/query shape from the reference,
re-expressed as an idiomatic DataFrame plan over the driver's TPC-H-ish
tables (FIXTURES.md §B mapping), paired with ANSI SQL that DuckDB runs on
the same parquet for the hash-match gate.

Determinism rules (SURVEY.md §5.2):
- every computed column is aliased identically in Spark and SQL;
- money sums go through DECIMAL so the aggregate is exact (order-independent)
  in both engines, then are ROUNDED IN DECIMAL SPACE (exact, same tie rule
  for positives in both engines) before the final DOUBLE cast — casting an
  unrounded wide decimal to double is NOT cross-engine stable (DuckDB's
  decimal->double is not correctly rounded past ~17 significant digits;
  observed at sf0.1);
- sums of integral doubles (quantities, counts) are exact in IEEE754 already;
- DuckDB's HUGEINT sums of integers are CAST back to BIGINT to match Spark;
- session timezone pinned UTC (session.pin_session_conf).

Float policy: never hash a float produced by a non-deterministic-order
reduction — either make the reduction exact (decimal / integral) or round a
deterministic scalar expression.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from .operators.timeseries import (
    SECONDS_PER_DAY,
    date_spine,
    epoch_bounds,
    with_epoch,
)
from .session import pin_session_conf
from .sources.io import (  # noqa: F401  (clear_reader_cache: API.md §2)
    _t,
    cached,
    clear_reader_cache,
    local_df,
    memo,
    read_events_ts_range,
    spread_for_cpu,
)

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# Small English-ish stopword set used by text-quality + lang-id heuristics.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "on"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "es": ["el", "la", "de", "y", "es", "un"],
    "fr": ["le", "la", "de", "et", "est", "un"],
    "zh": ["de5", "shi4", "le5"],  # romanized placeholders; heuristic only
}

QueryFn = Callable[[SparkSession, str], DataFrame]
_REGISTRY: dict[str, QueryFn] = {}
_ORACLE: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            pin_session_conf(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        _REGISTRY[name] = wrapped
        if oracle is not None:
            _ORACLE[name] = oracle
        return wrapped

    return deco


# The driver's per-round CORRECTNESS artifact samples a fixed-size prefix
# (50 keys in rounds 1-2) of queries() iteration order, so rounds 1-2 left
# 107/157 registry queries with no driver-side verdict despite the local
# full-registry gate (tools/compare_oracle.py) passing all of them. This
# prefix rotates IN never-driver-verified, oracle-backed queries — one per
# operator family — so cumulative driver-side verification grows each
# round; everything else follows in registration order and remains covered
# by the local gate. (VERDICT r02 "Next round" #2.)
_DRIVER_PRIORITY = [
    # --- round-12 rotation (continuing VERDICT r02 #2's ledger): entering
    # r12 every registry key carries a lifetime verdict, zero failures.
    # The 50-slot sample: (a) the SIX queries NEW this round — the
    # learned-BPE tokenizer program (VERDICT r11 #1: bpe_train_merges
    # pins the merge table under a DuckDB from-scratch training replay,
    # bpe_encode_counts the per-doc learned-token counts,
    # bpe_packed_sequences the pack_sequences(n_tok_col=) wiring),
    # manifest_delete_lifecycle (VERDICT r11 #2: stats-pruned row-level
    # DELETE + O(delta) change feed on the ACID table),
    # multimodal_packed_sequences (VERDICT r11 #5: interleaved text +
    # patch-token packing), forecast_quantiles_meanmodel (VERDICT r11
    # #6: the quality forecaster under a full oracle); (b) CHANGED-CODE
    # re-verdicts: the three portable ANN twins moved to the r12
    # quantized-cosine re-rank (ADVICE r11 medium — exact-by-construction
    # replaces round-half policy), sequence_packing rides the
    # pack_sequences signature change, multimodal_decode_meta /
    # multimodal_curation_pipeline ride the PNG/patch-cost module edits;
    # (c) r11-new keys for their second lifetime verdict; (d) the
    # least-recently-verified fill (r8-era verdicts). ---
    "bpe_train_merges", "bpe_encode_counts", "bpe_packed_sequences",
    "bpe_encode_tokens", "bpe_train_merges_capped",
    "manifest_delete_lifecycle", "multimodal_packed_sequences",
    "forecast_quantiles_meanmodel",
    # (b) changed-code re-verdicts
    "lsh_portable_topk", "ivf_portable_topk",
    "embedding_neardup_portable", "sequence_packing",
    "multimodal_decode_meta", "multimodal_curation_pipeline",
    # (c) r11-new keys, second verdict
    "minhash_portable_signatures", "minhash_portable_neardups",
    "zorder_optimize_lifecycle",
    # (d) least-recently-verified fill
    "ivf_recall_check", "lsh_recall_check", "revenue_by_region",
    "adaptive_quality_gate", "asof_join_tolerance",
    "dsir_importance_weights", "embedding_clusters",
    "embedding_neardup_blocked", "forecast_revenue_delta",
    "map_functions_probe", "math_functions_probe",
    "mixture_weights_by_source", "mode_event_type_per_user",
    "money_scale_contract", "nation_pair_revenue",
    "neardup_clusters_banded", "null_safe_join_counts",
    "order_count_distribution", "orders_above_avg_price",
    "orders_above_customer_avg", "parameterized_sql_probe",
    "parse_timestamp_format", "part_revenue_concentration",
    "pivot_multi_agg", "posexplode_tokens", "profile_orders",
    "quality_expectations_orders", "regexp_functions_probe",
    "repeated_ngram_spans", "rolling_hash_fingerprint",
    "salted_join_revenue", "sentiment_scores",
    "ship_delay_priority_counts",
]


def queries() -> dict[str, QueryFn]:
    out = {n: _REGISTRY[n] for n in _DRIVER_PRIORITY if n in _REGISTRY}
    out.update(_REGISTRY)
    return out


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLE)


def _count(df: DataFrame, alias: str = "n") -> Column:
    return F.count(F.lit(1)).alias(alias)


def _dec(c: str, p: int = 18, s: int = 4) -> Column:
    """Exact-money path: double -> decimal before aggregation so the sum is
    order-independent and hash-stable across engines."""
    return F.col(c).cast(f"decimal({p},{s})")


# ---------------------------------------------------------------------------
# Flagship: the reference's signature query shape (SURVEY.md §7.2) on events
# ---------------------------------------------------------------------------


@register(
    "flagship_daily_type_counts",
    """
    SELECT event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS date,
           count(*) AS ride_count
    FROM events
    WHERE ts > TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-25'
    GROUP BY 1, 2
    """,
)
def flagship_daily_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ride-count-per-type-per-day with strict range bounds — the signature
    query (DataDiscoveryAndConversation.rst:319; bounds semantics
    GluePySparkMLFeatureEngineering.rst:132-135: strict > and <)."""
    ev = read_events_ts_range(spark, sf_dir, "2024-01-05", "2024-01-25")
    return (
        ev.groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("date"))
        .agg(_count(ev, "ride_count"))
    )


# ---------------------------------------------------------------------------
# Scans / counts / set ops (S8, A1, A2, U1)
# ---------------------------------------------------------------------------


@register("global_count", "SELECT count(*) AS n FROM lineitem")
def global_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/S8: global COUNT(*) (GluePySparkMLFeatureEngineering.rst:62)."""
    return _t(spark, sf_dir, "lineitem").agg(_count(None))


@register(
    "union_tagged_counts",
    """
    SELECT 'customer' AS src, count(*) AS n FROM customer
    UNION ALL SELECT 'supplier' AS src, count(*) AS n FROM supplier
    UNION ALL SELECT 'part' AS src, count(*) AS n FROM part
    """,
)
def union_tagged_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: 3-way UNION ALL of tagged counts
    (DataDiscoveryAndConversation.rst:168-171)."""

    def tagged(table: str) -> DataFrame:
        return (
            _t(spark, sf_dir, table)
            .agg(_count(None))
            .select(F.lit(table).alias("src"), F.col("n"))
        )

    return tagged("customer").union(tagged("supplier")).union(tagged("part"))


@register(
    "group_by_event_type",
    "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
)
def group_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: GROUP BY single key + COUNT (DataDiscoveryAndConversation.rst:291)."""
    return _t(spark, sf_dir, "events").groupBy("event_type").agg(_count(None))


@register(
    "counts_by_day",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n
    FROM events GROUP BY 1
    """,
)
def counts_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: GROUP BY computed day-trunc expression
    (DataDiscoveryAndConversation.rst:319,636)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(_count(None))
    )


@register(
    "counts_by_day_type",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
           count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def counts_by_day_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: multi-key GROUP BY (GluePySparkMLFeatureEngineering.rst:218)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"), F.col("event_type"))
        .agg(_count(None))
    )


@register(
    "pivot_daily_by_type",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS click,
           CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS error,
           CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
           CAST(coalesce(sum(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS BIGINT) AS signup,
           CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT) AS view
    FROM events GROUP BY 1
    """,
)
def pivot_daily_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: pivot with an EXPLICIT sorted value list — skips the
    distinct-values pre-scan and pins column order
    (GluePySparkMLFeatureEngineering.rst:252-254; SURVEY.md §4.1)."""
    ev = _t(spark, sf_dir, "events")
    base = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), F.col("event_type")
    ).agg(_count(None, "cnt"))
    return (
        base.groupBy("day")
        .pivot("event_type", EVENT_TYPES)
        .sum("cnt")
        .na.fill(0, EVENT_TYPES)
    )


# ---------------------------------------------------------------------------
# Filters / predicates / projection (P1, P6-P9)
# ---------------------------------------------------------------------------


@register(
    "strict_range_rows",
    """
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE ts > TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-12'
    """,
)
def strict_range_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/P9: strict-inequality timestamp range, full-width passthrough
    (GluePySparkMLFeatureEngineering.rst:132-135). The predicate is pushed
    into the parquet scan (PushedFilters)."""
    ev = read_events_ts_range(spark, sf_dir, "2024-01-10", "2024-01-12")
    return ev.select("event_id", "ts", "user_id", "event_type", "value")


@register(
    "upper_bound_sanity_count",
    "SELECT count(*) AS n FROM events WHERE ts < TIMESTAMP '2099-12-31'",
)
def upper_bound_sanity_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: upper-bound sanity filter (DataDiscoveryAndConversation.rst:319)."""
    return read_events_ts_range(spark, sf_dir, upper="2099-12-31").agg(
        _count(None)
    )


@register(
    "like_prefix_filter",
    """
    SELECT event_id, event_type FROM events
    WHERE CAST(ts AS VARCHAR) LIKE '2024-01-0%'
    """,
)
def like_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: LIKE prefix predicate on a stringified timestamp
    (DataDiscoveryAndConversation.rst:454, `LIKE '2088%'`)."""
    ev = _t(spark, sf_dir, "events")
    return ev.where(F.col("ts").cast("string").like("2024-01-0%")).select(
        "event_id", "event_type"
    )


@register(
    "project_rename_cast",
    """
    SELECT CAST(o_orderkey AS VARCHAR) AS id, o_orderdate AS ts,
           o_orderpriority AS priority
    FROM orders
    """,
)
def project_rename_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: ApplyMapping shape — project + rename + cast in one select,
    incl. the deliberate numeric-id -> string cast (yellow.py:28)."""
    return _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("id"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderpriority").alias("priority"),
    )


# ---------------------------------------------------------------------------
# Epoch bucketing + date spine + gap-fill resample (F2, J1-J3, F10)
# ---------------------------------------------------------------------------

_EPOCH_SQL = "CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) * 86400"


@register(
    "epoch_bucket_counts",
    f"SELECT {_EPOCH_SQL} AS epoch, count(*) AS n FROM events GROUP BY 1",
)
def epoch_bucket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: the reference's exact epoch day-bucket arithmetic
    (GluePySparkMLFeatureEngineering.rst:161-165)."""
    return (
        with_epoch(_t(spark, sf_dir, "events"), "ts")
        .groupBy("epoch")
        .agg(_count(None))
    )


@register(
    "min_max_epoch_bounds",
    f"""
    WITH f AS (SELECT {_EPOCH_SQL} AS epoch FROM events)
    SELECT min(epoch) AS lo, max(epoch) AS hi FROM f
    """,
)
def min_max_epoch_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/J3: global min/max bounds (GluePySparkMLFeatureEngineering.rst:167)."""
    return with_epoch(_t(spark, sf_dir, "events"), "ts").agg(
        F.min("epoch").alias("lo"), F.max("epoch").alias("hi")
    )


@register(
    "date_spine",
    f"""
    WITH f AS (SELECT {_EPOCH_SQL} AS epoch FROM events),
         b AS (SELECT min(epoch) AS lo, max(epoch) AS hi FROM f)
    SELECT unnest(generate_series(lo, hi, 86400)) AS epoch FROM b
    """,
)
def date_spine_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2+J3: generated daily spine between observed bounds
    (GluePySparkMLFeatureEngineering.rst:170-172). spark.range is a
    generated leaf — nothing is scanned or shuffled."""
    facts = with_epoch(_t(spark, sf_dir, "events"), "ts")
    lo, hi = epoch_bounds(facts)
    return date_spine(spark, lo, hi)


@register(
    "spine_left_join_gapfill",
    f"""
    WITH f AS (SELECT {_EPOCH_SQL} AS epoch, event_type, user_id FROM events),
         b AS (SELECT min(epoch) AS lo, max(epoch) AS hi FROM f),
         spine AS (SELECT unnest(generate_series(lo, hi, 86400)) AS epoch FROM b),
         d AS (
             SELECT epoch, count(*) AS n FROM f
             WHERE event_type = 'purchase' AND user_id % 7 = 0
             GROUP BY epoch
         )
    SELECT s.epoch AS epoch, CAST(coalesce(d.n, 0) AS BIGINT) AS n
    FROM spine s LEFT JOIN d USING (epoch)
    """,
)
def spine_left_join_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+F10: spine LEFT JOIN daily counts; gap days survive as NULL and are
    zero-filled (GluePySparkMLFeatureEngineering.rst:174-181,631). The fact
    table is reduced to per-day counts BEFORE the join (map-side partial
    agg), and the aggregate — the non-preserved side — is broadcast, so the
    outer join is a broadcast hash join with no fact-side shuffle."""
    facts = with_epoch(_t(spark, sf_dir, "events"), "ts")
    lo, hi = epoch_bounds(facts)
    spine = date_spine(spark, lo, hi)
    d = (
        facts.where((F.col("event_type") == "purchase") & (F.col("user_id") % 7 == 0))
        .groupBy("epoch")
        .agg(_count(None))
    )
    return spine.join(F.broadcast(d), "epoch", "left").select(
        "epoch", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )


# ---------------------------------------------------------------------------
# Sorts / limits / joins / set ops (O1-O2, J4-J5, U2)
# ---------------------------------------------------------------------------


@register(
    "order_limit_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
)
def order_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1+O2: global sort + limit, total order via unique-key tiebreak.
    Spark executes this as TakeOrderedAndProject — no full global sort."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@register(
    "inner_join_daily",
    """
    WITH a AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n_click
        FROM events WHERE event_type = 'click' GROUP BY 1
    ), b AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n_purchase
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT a.day AS day, a.n_click, b.n_purchase FROM a JOIN b USING (day)
    """,
)
def inner_join_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: inner equi-join of two daily series on the day key — the engine-side
    version of the reference's pandas index join
    (GluePySparkMLFeatureEngineering.rst:603,630)."""
    ev = _t(spark, sf_dir, "events")

    def daily(kind: str, alias: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == kind)
            .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
            .agg(_count(None, alias))
        )

    return daily("click", "n_click").join(daily("purchase", "n_purchase"), "day")


@register(
    "union_by_name",
    """
    SELECT o_orderkey AS id, o_totalprice AS price
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL BY NAME
    SELECT o_orderkey AS id, o_orderpriority AS priority
    FROM orders WHERE o_orderstatus = 'O'
    """,
)
def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2/J5: union of heterogeneous frames; missing columns -> NULL
    (pd.concat(sort=False) at DataDiscoveryAndConversation.rst:668)."""
    orders = _t(spark, sf_dir, "orders")
    f1 = orders.where(F.col("o_orderstatus") == "F").select(
        F.col("o_orderkey").alias("id"), F.col("o_totalprice").alias("price")
    )
    f2 = orders.where(F.col("o_orderstatus") == "O").select(
        F.col("o_orderkey").alias("id"), F.col("o_orderpriority").alias("priority")
    )
    return f1.unionByName(f2, allowMissingColumns=True)


# ---------------------------------------------------------------------------
# Window functions (§2.5 additive) + streaming generalization (§2.9)
# ---------------------------------------------------------------------------


@register(
    "window_daily_diff",
    """
    WITH d AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n
        FROM events GROUP BY 1
    )
    SELECT day, n, n - lag(n) OVER (ORDER BY day) AS diff FROM d
    """,
)
def window_daily_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window lag diff over the daily series (SURVEY.md §2.5 — additive).
    The single-partition window is safe: input is the post-aggregation
    daily series (~tens of rows), not the fact table."""
    d = (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(_count(None))
    )
    w = Window.orderBy("day")
    return d.select(
        "day", "n", (F.col("n") - F.lag("n").over(w)).alias("diff")
    )


@register(
    "tumbling_hourly_counts",
    """
    SELECT make_timestamp(CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) * 3600 * 1000000) AS bucket,
           count(*) AS n
    FROM events GROUP BY 1
    """,
)
def tumbling_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: tumbling-window counts via F.window — the batch twin of the
    Structured Streaming windowed count (same operator in streaming mode is
    exercised in tests/test_streaming.py). Windows align to the epoch
    origin under UTC."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(_count(None))
        .select(F.col("w.start").alias("bucket"), "n")
    )


@register(
    "top3_per_status",
    """
    SELECT o_orderstatus, o_orderkey, o_totalprice FROM (
        SELECT o_orderstatus, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_orderstatus
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def top3_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via ranked window — scale-safe top-k (partial top-k
    per partition under AQE, no global sort of the fact table)."""
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderstatus",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 3)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Multi-join aggregates (exactness via decimal) — the TPC-H-ish backbone
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(8,4))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(8,4)) * CAST(1 + l_tax AS DECIMAL(8,4))), 2) AS DOUBLE) AS sum_charge,
           sum(l_quantity) / count(*) AS avg_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) / count(*) AS avg_price,
           CAST(round(sum(CAST(l_discount AS DECIMAL(8,6))), 4) AS DOUBLE) / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary — the groupBy-many-aggs workhorse.
    Money aggregates are EXACT and order-independent via fixed-point:
    prices/discounts/taxes are 2-decimal, so each row's products run in
    BIGINT (cents x hundredths; one codegen multiply instead of chained
    decimal multiplies), per-bucket partial sums stay in BIGINT (bounded
    structurally — see the inline comment), and only the tiny per-bucket
    partials merge in decimal(38,0), which has no row-count ceiling. The
    rescaling quotients are exact (result scale 6 covers the 2+2+2-decimal
    charge), so the output doubles equal the oracle's decimal-sum
    formulation bit-for-bit; quantity sums are integral doubles (exact)."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    pi = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    di = F.round((F.lit(1) - F.col("l_discount")) * 100, 0).cast("bigint")
    ti = F.round((F.lit(1) + F.col("l_tax")) * 100, 0).cast("bigint")
    dci = F.round(F.col("l_discount") * 100, 0).cast("bigint")

    # Two-level integer accumulation (same pattern as stats_moments_by_
    # flag, but with a COUNTER-BUCKET partial key instead of the task id):
    # per-row products stay BIGINT, partial sums run in codegen long adds
    # grouped by (_b, flag, status) where _b slices each task's row stream
    # into 2^20-row buckets via the monotonically_increasing_id counter
    # bits. That bounds every long accumulator STRUCTURALLY — max partial
    # is 2^20 x 1.15e11 (the scaled charge term) ~ 1.2e17, 76x inside
    # long range regardless of split size or maxPartitionBytes, with no
    # reliance on ANSI overflow errors (the engine session runs ANSI-off
    # for try-cast parity). Only the per-bucket partials merge in
    # decimal(38,0) (no row-count ceiling). The partial aggregate still
    # collapses map-side inside the scan stage (one row per bucket per
    # group), so shuffle volume stays trivial; the Decimal accumulator no
    # longer touches every row, which was this query's hot cost.
    b = F.shiftrightunsigned(F.monotonically_increasing_id(), 20)
    part = li.groupBy(
        b.alias("_b"), "l_returnflag", "l_linestatus"
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("l_quantity").alias("_sqty"),
        F.sum(pi).alias("_sp"),
        F.sum(pi * di).alias("_spd"),
        F.sum(pi * di * ti).alias("_spdt"),
        F.sum(dci).alias("_sdisc"),
    )

    def m38(col, div, digits):
        # decimal all the way to the final round, THEN cast: rounding the
        # exact decimal matches the oracle's round-then-cast even when a
        # huge sum is not exactly double-representable
        q = F.sum(F.col(col).cast("decimal(38,0)")) / F.lit(div)
        return F.round(q, digits).cast("double")

    # _sqty partials/total are exact in double (integral quantities <= 50;
    # totals far below 2^53), so the two-level sum is order-independent
    # and bit-equal to the single-level form.
    n = F.sum("_n")
    return part.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("_sqty").alias("sum_qty"),
        m38("_sp", 100, 2).alias("sum_base_price"),
        m38("_spd", 10_000, 2).alias("sum_disc_price"),
        m38("_spdt", 1_000_000, 2).alias("sum_charge"),
        (F.sum("_sqty") / n).alias("avg_qty"),
        # avg_price divides the ROUNDED sum (not round-of-quotient) because
        # the oracle twin above is written as round(sum)/count — the two
        # forms differ in the last double bit for some group sizes, so this
        # expression is pinned to the oracle's; change both or neither.
        (m38("_sp", 100, 2) / n).alias("avg_price"),
        (m38("_sdisc", 100, 4) / n).alias("avg_disc"),
        n.alias("count_order"),
    )


@register(
    "money_scale_contract",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN abs(l_extendedprice*100 - round(l_extendedprice*100)) > 1e-6 THEN 1 ELSE 0 END) AS BIGINT) AS price_violations,
           CAST(sum(CASE WHEN abs(l_discount*100      - round(l_discount*100))      > 1e-6 THEN 1 ELSE 0 END) AS BIGINT) AS discount_violations,
           CAST(sum(CASE WHEN abs(l_tax*100           - round(l_tax*100))           > 1e-6 THEN 1 ELSE 0 END) AS BIGINT) AS tax_violations,
           CAST(sum(CASE WHEN abs(l_quantity          - round(l_quantity))          > 1e-6 THEN 1 ELSE 0 END) AS BIGINT) AS quantity_violations
    FROM lineitem
    """,
)
def money_scale_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-generator contract probe (ADVICE r03): the fixed-point money
    rewrites (q1_pricing_summary, revenue_by_region,
    stats_moments_by_flag) assume prices/discounts/taxes are EXACTLY
    2-decimal and quantities integral — F.round(x*100) silently snaps any
    finer value to cents, skewing sums with no error signal. This query
    counts violations of that invariant per column (all must be 0); it is
    part of the oracle-gated registry, so a future data change that
    breaks the invariant turns these counters nonzero on both engines and
    is caught by the soak/gate review rather than by silent sum drift."""
    li = _t(spark, sf_dir, "lineitem")

    def viol(col: str, scale: int = 100) -> Column:
        x = F.col(col) * scale if scale != 1 else F.col(col)
        return F.sum(
            F.when(F.abs(x - F.round(x, 0)) > 1e-6, 1).otherwise(0)
        ).cast("bigint")

    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        viol("l_extendedprice").alias("price_violations"),
        viol("l_discount").alias("discount_violations"),
        viol("l_tax").alias("tax_violations"),
        viol("l_quantity", 1).alias("quantity_violations"),
    )


@register(
    "revenue_by_region",
    """
    SELECT r_name,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(8,4))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-shaped multi-join aggregate. Dimension tables (region/nation/
    customer) are broadcast, and lineitem is pre-aggregated to
    (l_orderkey, revenue, n_items) BEFORE the orders join — the same
    aggregate pushdown as customer_order_stats — so the only big shuffle
    moves |orders| narrow rows instead of |lineitem| full-width ones
    (~4x less at any SF; the per-order partial agg is map-side combined).
    Revenue is exact fixed-point (see q1_pricing_summary: prices and
    discounts are 2-decimal by the generator contract, so cents x
    hundredths runs in BIGINT per order and only the region-level sums
    accumulate in decimal(38,0), matching the oracle's decimal sum
    bit-for-bit).

    Plan closure (PERF.md r7; the A/B harness is removed, see git
    history): the zero-wide-exchange broadcast-map alternative ties at
    sf0.1 (the per-job floor dominates) and loses 1.75x at sf10
    (15M-entry broadcast map build+probe beats no shuffle) — and is
    impossible at 100 TB where orders is not broadcastable. This shape
    is final; the residual sf0.1 gap vs DuckDB is scan/stage fixed cost
    (bare scan+agg alone is 5x the full DuckDB query), bounded in
    PERF.md."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    pi = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    di = F.round((F.lit(1) - F.col("l_discount")) * 100, 0).cast("bigint")
    # Per-order partial sums stay in BIGINT (max |lineitem|/order x ~1e7,
    # far below 2^63); the cross-order accumulation is decimal(38,0).
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(pi * di).alias("_rev_e4"),
        F.count(F.lit(1)).alias("_n"),
    )
    # Deliberate join strategy (guide §3.1, r12): the per_order <-> orders
    # equi-join defaulted to sort-merge — two 15M-row sorts at sf10 whose
    # only purpose was the merge. SHUFFLE_HASH builds a per-partition hash
    # table over the narrow orders side instead: build keys are UNIQUE
    # (one row per order), so the build side cannot be skewed, and the
    # per-partition build is |orders|/shuffle-partitions 16-byte rows —
    # bounded at any scale AQE sizes the shuffle for. Interleaved A/B
    # (quiet box, min of 3): sf0.1 1.00 -> 0.90, sf1 1.40 -> 1.12,
    # sf10 10.47 -> 8.52 s. A direct lineitem x orders SHJ (no per-order
    # pre-aggregate, q1-style counter-bucket integer partials) read
    # 7.51 s at sf10 but regressed sf0.1 to 1.13 and quadruples the
    # shuffled row count — rejected; the pre-aggregate stays.
    return (
        per_order.join(
            orders.hint("SHUFFLE_HASH"),
            per_order.l_orderkey == orders.o_orderkey,
        )
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(
                F.sum(F.col("_rev_e4").cast("decimal(38,0)")) / F.lit(10_000), 2
            )
            .cast("double")
            .alias("revenue"),
            F.sum("_n").cast("bigint").alias("n_items"),
        )
    )


@register(
    "customer_order_stats",
    """
    SELECT c_custkey, count(o_orderkey) AS n_orders,
           CAST(round(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,4))), 0), 2) AS DOUBLE) AS total_spend
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + grouped agg with null-group handling (customers
    with no orders -> 0). The orders side is aggregated to one row per
    customer BEFORE the join (classic aggregate pushdown): the join then
    moves |customers| rows instead of |orders|, and no post-join
    re-aggregation is needed — same rows, ~10x less join input at any
    scale where customers order more than once."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            _dec("o_totalprice", 18, 4).alias("o_price_dec"),
        )
        .groupBy("o_custkey")
        .agg(
            F.count("o_orderkey").alias("_n"),
            F.sum("o_price_dec").alias("_s"),
        )
    )
    # Deliberate join strategy (guide §3.1, r12): left-outer SMJ paid two
    # |customers|-sized sorts just to merge; SHUFFLE_HASH builds the hash
    # table over the aggregated (unique-key, hence skew-free) per_cust
    # side instead. Interleaved A/B min-of-3: sf0.1 0.59 -> 0.43,
    # sf1 0.74 -> 0.64, sf10 2.05 vs 2.20 (medians 2.45 vs 2.27 — inside
    # the band; the per-customer aggregate dominates there).
    return cust.join(
        per_cust.hint("SHUFFLE_HASH"), cust.c_custkey == per_cust.o_custkey,
        "left",
    ).select(
        "c_custkey",
        F.coalesce(F.col("_n"), F.lit(0)).alias("n_orders"),
        F.round(F.coalesce(F.col("_s"), F.lit(0)), 2)
        .cast("double")
        .alias("total_spend"),
    )


# ---------------------------------------------------------------------------
# JSON / semi-structured (props column)
# ---------------------------------------------------------------------------


@register(
    "json_extract_sum",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def json_extract_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured path: JSON field extraction + tolerant cast (P2-style
    try-cast: bad/missing values -> NULL, ignored by sum)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("k_sum"), _count(None)
    )


# ---------------------------------------------------------------------------
# Dedup / text analysis over documents (SURVEY.md §2.12)
# ---------------------------------------------------------------------------

_NORM_SQL = "lower(regexp_replace(text, '\\s+', ' ', 'g'))"


@register(
    "dedup_distinct_pairs",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def dedup_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via DISTINCT (hash aggregate, map-side partial)."""
    return _t(spark, sf_dir, "events").select("user_id", "event_type").distinct()


@register(
    "dedup_docs_fingerprint",
    f"""
    SELECT md5({_NORM_SQL}) AS fp, min(doc_id) AS doc_id, count(*) AS n
    FROM documents GROUP BY 1
    """,
)
def dedup_docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup-canonicalization: group by md5 of normalized text,
    keep lowest doc_id as canonical. Hash-groupBy scales linearly; the md5
    is computed JVM-side (no UDF)."""
    docs = _t(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    return docs.groupBy(F.md5(norm).alias("fp")).agg(
        F.min("doc_id").alias("doc_id"), _count(None)
    )


@register(
    "token_count",
    """
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_tokens
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting (text-analysis surface, SURVEY.md §2.12)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )


@register(
    "text_quality",
    """
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS n_chars_calc,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
           round(
             CAST(len(list_filter(string_split(lower(text), ' '),
                       t -> t IN ('the','a','of','and','to','in','is','on'))) AS DOUBLE)
             / len(regexp_split_to_array(trim(text), '\\s+')), 4) AS stop_ratio
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: char length, token count, stopword ratio — all
    JVM-side higher-order array functions, no Python in the row path.
    The scan is spread to core count first (no-op once the table has
    enough splits): the tokenize/stopword kernel is CPU-bound and the
    documents file has 1-2 row groups at bench SFs, so the un-spread
    form ran the whole corpus on <=2 cores (r12 interleaved A/B:
    sf1 0.93 -> 0.50 s, sf0.1 0.38 -> 0.24 s)."""
    docs = spread_for_cpu(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    lower_toks = F.split(F.lower(F.col("text")), " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    n_stop = F.size(F.filter(lower_toks, lambda t: F.array_contains(stop_arr, t)))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        F.size(toks).alias("n_tokens"),
        F.round(n_stop.cast("double") / F.size(toks), 4).alias("stop_ratio"),
    )


@register(
    "ngram_jaccard_pairs",
    """
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), s AS (
        SELECT DISTINCT doc_id,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
        FROM t, LATERAL unnest(generate_series(1, len(toks) - 2)) AS g(i)
    ), sz AS (
        SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(inter / (za.sz + zb.sz - inter), 6) AS jaccard
    FROM inter
    JOIN sz za ON za.doc_id = doc_a
    JOIN sz zb ON zb.doc_id = doc_b
    WHERE inter / (za.sz + zb.sz - inter) >= 0.05
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard similarity join — the exact-oracle twin of
    MinHash near-dedup (the MinHash path is the 100TB strategy; this exact
    version is quadratic in shared shingles and serves as its ground truth;
    soak-excluded with the banded scale twins minhash_near_duplicates /
    simhash_near_duplicates). Shingle explode -> self-equi-join on shingle
    -> per-pair intersection counts -> Jaccard."""
    from .operators.dedup import exploded_shingles

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # The shingle table feeds three subtrees (sizes + both join sides); the
    # tokenize+explode is the expensive part, so materialize it once instead
    # of recomputing per subtree (plan showed 4 documents scans, 0 reuse).
    # Same posture at 100TB: shingle once, reuse. Eager localCheckpoint
    # rather than persist: the returned DataFrame still references this
    # frame, so a persist here could never be released (a cache-manager
    # leak for library embedders — VERDICT r05 #4); checkpoint blocks are
    # reclaimed when the RDD is GC'd. Tradeoff: lineage is truncated, so
    # an executor loss mid-query fails the query instead of recomputing —
    # acceptable for a conformance-SF-only exact-oracle twin (the 100TB
    # path is minhash_near_duplicates).
    s = exploded_shingles(docs, "text", "doc_id", 3).localCheckpoint(
        eager=True
    )
    sz = s.groupBy("doc_id").agg(_count(None, "sz"))
    a = s.select(F.col("doc_id").alias("doc_a"), "sh")
    b = s.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        a.join(b, "sh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(_count(None, "inter"))
    )
    za = sz.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    zb = sz.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.join(F.broadcast(za), "doc_a")
        .join(F.broadcast(zb), "doc_b")
        .where(jac >= 0.05)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ANN top-k is a SERVING-shaped workload: the corpus grows with the data,
# the query batch does not. Batch = every step-th vec_id with
# step = max(50, N // 100): identical to the historical %50 rule at every
# conformance/bench SF (N <= 5000 there, so step stays 50 and the driver's
# oracle gate sees byte-identical results), but bounded at ~100 queries as
# the corpus scales — without the bound, |Q| grew linearly with N and every
# ANN query (and its exact recall denominator) was quadratic in SF; the
# first r04 sf10 soak spent 30+ min inside lsh_ann_topk on a 4k-query
# batch. The oracle SQL derives the same step arithmetic from count(*).
_ANN_STEP_SQL = "greatest(50, (SELECT count(*) FROM embeddings) // 100)"


def _embedding_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v double[]) over the embeddings table."""
    from .operators.similarity import as_double_vec

    return _t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_vec("embedding").alias("v")
    )


def _ann_queries(emb: DataFrame, sf_dir: str | None = None) -> DataFrame:
    # The step rule needs |embeddings| — a full count(*). With ``sf_dir``
    # the count comes from the parquet footer metadata on the driver
    # (~0.2 ms, the same bytes the distributed count job's tasks read;
    # re-read every invocation, nothing memoized), replacing a per-build
    # Spark job that cost every ANN query ~0.1-0.2 s of fixed driver time
    # (r13, VERDICT r12 next #4 driver-job audit). Identical N by
    # construction: the emb frame at every call site is the unfiltered
    # embeddings scan, and the oracle derives step from the same
    # count(*) FROM embeddings. Fallback (non-file path, missing file,
    # pyarrow error): the original distributed count.
    n = None
    if sf_dir is not None:
        try:
            import os as _os

            import pyarrow.parquet as _pq

            path = _os.path.join(sf_dir, "embeddings.parquet")
            if _os.path.isfile(path):
                n = _pq.ParquetFile(path).metadata.num_rows
        except Exception:
            n = None
    if n is None:
        n = emb.count()
    step = max(50, n // 100)
    return emb.where(F.col("vec_id") % step == 0)


@register(
    "embedding_cosine_topk",
    f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), q AS (
        SELECT vec_id AS q_id, v AS qv FROM e
        WHERE vec_id % {_ANN_STEP_SQL} = 0
    ), p AS (
        SELECT q_id, e.vec_id AS c_id,
               round(list_dot_product(qv, v)
                     / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))),
                     6) AS sim
        FROM q, e WHERE e.vec_id <> q_id
    )
    SELECT q_id, c_id, sim FROM (
        SELECT q_id, c_id, sim,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn
        FROM p
    ) WHERE rn <= 5
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline (SURVEY.md §2.12): query set
    broadcast against the candidate scan; dot products via JVM-side
    higher-order functions (zip_with + aggregate), double accumulation in
    array order so both engines produce bit-identical sums. Ranking uses the
    ROUNDED similarity + id tiebreak for cross-engine determinism."""
    from .operators.similarity import brute_force_topk

    emb = _embedding_vecs(spark, sf_dir)
    q = _ann_queries(emb, sf_dir)
    return brute_force_topk(emb, q, k=5)


# ---------------------------------------------------------------------------
# Grouping-set / distinct / sessionization coverage
# ---------------------------------------------------------------------------


@register(
    "count_distinct_users",
    "SELECT count(DISTINCT user_id) AS n FROM events",
)
def count_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT DISTINCT (two-phase partial distinct under AQE)."""
    return _t(spark, sf_dir, "events").agg(
        F.count_distinct(F.col("user_id")).alias("n")
    )


@register(
    "rollup_counts",
    """
    SELECT event_type, count(*) AS n FROM events
    GROUP BY ROLLUP(event_type)
    """,
)
def rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets: per-type counts + grand total (NULL row)."""
    return _t(spark, sf_dir, "events").rollup("event_type").agg(_count(None))


@register(
    "sessionize_user_counts",
    """
    WITH g AS (
        SELECT user_id,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         IS NULL THEN 1
                    WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                         THEN 1 ELSE 0 END AS new_sess
        FROM events
    )
    SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions
    FROM g GROUP BY user_id
    """,
)
def sessionize_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap > 30min starts a new session; sessions
    counted per user. Window partitions by user (parallel across users —
    no single-partition window)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull()
        | ((F.col("ts").cast("double") - prev.cast("double")) > 1800),
        1,
    ).otherwise(0)
    return (
        ev.select("user_id", new_sess.alias("new_sess"))
        .groupBy("user_id")
        .agg(F.sum("new_sess").cast("bigint").alias("n_sessions"))
    )


# ---------------------------------------------------------------------------
# Text analysis / lang-id (module-backed; SURVEY.md §2.12)
# ---------------------------------------------------------------------------

_TOKS_SQL = "regexp_split_to_array(trim(lower(text)), '\\s+')"


def _hits_sql(lang: str) -> str:
    from .operators.textanalysis import LANG_LEXICONS

    in_list = ", ".join(f"'{w}'" for w in LANG_LEXICONS[lang])
    return f"len(list_filter({_TOKS_SQL}, t -> t IN ({in_list})))"


@register(
    "lang_id_heuristic",
    f"""
    WITH h AS (
        SELECT doc_id,
               CAST({_hits_sql('en')} AS INTEGER) AS hits_en,
               CAST({_hits_sql('de')} AS INTEGER) AS hits_de,
               CAST({_hits_sql('es')} AS INTEGER) AS hits_es,
               CAST({_hits_sql('fr')} AS INTEGER) AS hits_fr,
               CAST({_hits_sql('zh')} AS INTEGER) AS hits_zh
        FROM documents
    )
    SELECT doc_id,
           CASE
             WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
             WHEN hits_de > hits_en AND hits_de >= hits_es AND hits_de >= hits_fr AND hits_de >= hits_zh THEN 'de'
             WHEN hits_es > hits_en AND hits_es > hits_de AND hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
             WHEN hits_fr > hits_en AND hits_fr > hits_de AND hits_fr > hits_es AND hits_fr >= hits_zh THEN 'fr'
             WHEN hits_zh > hits_en AND hits_zh > hits_de AND hits_zh > hits_es AND hits_zh > hits_fr THEN 'zh'
             ELSE 'en'
           END AS pred_lang,
           hits_en, hits_de, hits_es, hits_fr, hits_zh
    FROM h
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by stopword-hit argmax with fixed priority tie-break
    (operators.textanalysis.lang_id)."""
    from .operators.textanalysis import lang_id

    # CPU-bound token/lexicon kernel: spread a sub-core-count scan first
    return lang_id(
        spread_for_cpu(_t(spark, sf_dir, "documents")), "text", "doc_id"
    )


@register(
    "quality_features",
    f"""
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS n_chars_calc,
           CAST(len({_TOKS_SQL}) AS INTEGER) AS n_tokens,
           round(CAST(length(text) AS DOUBLE) / len({_TOKS_SQL}), 4) AS mean_tok_len,
           round(CAST({_hits_sql('en')} AS DOUBLE) / len({_TOKS_SQL}), 4) AS stop_ratio,
           round(CAST(length(text) - length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                 / length(text), 4) AS non_alpha_ratio
    FROM documents
    """,
)
def quality_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc quality features (operators.textanalysis.quality_features)."""
    from .operators.textanalysis import quality_features

    return quality_features(_t(spark, sf_dir, "documents"), "text", "doc_id")


# ---------------------------------------------------------------------------
# Hash-based near-dup / ANN — rows-only checks (xxhash64 has no DuckDB
# twin; correctness is established against exact oracles in tests:
# minhash vs ngram_jaccard_pairs, lsh_topk vs embedding_cosine_topk)
# ---------------------------------------------------------------------------


@register("minhash_near_duplicates")
def minhash_near_duplicates_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates verified by exact Jaccard — the
    linear-scale replacement for the all-pairs shingle join. Rows-only
    WAIVER: xxhash64 band-bucket membership has no DuckDB twin, so THIS
    variant's recalled pair set is not SQL-predictable; the identical
    pipeline over the engine-portable md5 hash IS hash-exact verified as
    minhash_portable_neardups (r11 — DuckDB replays signatures, band
    keys, candidates, and verified Jaccard), and the precision/recall
    contract of this hot-path variant is driver-checked via the
    oracle-backed minhash_recall_check twin against the exact
    ngram_jaccard_pairs ground truth."""
    from .operators.dedup import minhash_near_duplicates

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return minhash_near_duplicates(
        docs, "text", "doc_id", threshold=0.05, num_hashes=32, bands=16
    )


@register("simhash_fingerprints")
def simhash_fingerprints_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints per document. Rows-only WAIVER: the
    fingerprint is built from Spark xxhash64 token hashes, which DuckDB
    cannot reproduce (different hash family/seeding); the identical
    pipeline over the engine-portable md5 hash IS hash-exact verified as
    simhash_portable_fingerprints, and determinism/banding behavior are
    covered structurally in tests."""
    from .operators.dedup import simhash_fingerprints

    return simhash_fingerprints(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), "text", "doc_id"
    )


@register("lsh_ann_topk")
def lsh_ann_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k neighbors (bucket join + exact
    re-rank). Rows-only WAIVER: Gaussian-hyperplane bucket membership is
    float-hash-dependent, so THIS variant's pair set is not
    SQL-predictable; the identical pipeline over md5-derived INTEGER
    hyperplanes IS hash-exact verified as lsh_portable_topk (r11 — DuckDB
    replays planes, quantized sign bits, bucket joins, and the rounded
    re-rank), and this hot-path variant's accuracy contract is
    driver-checked via the oracle-backed lsh_recall_check twin (recall vs
    the exact embedding_cosine_topk), plus pytest recall assertions."""
    from .operators.similarity import lsh_topk

    emb = _embedding_vecs(spark, sf_dir)
    q = _ann_queries(emb, sf_dir)
    return lsh_topk(emb, q, k=5, n_tables=16, n_bits=4, multiprobe=1)


@register(
    "lsh_portable_topk",
    f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), ev AS (
        SELECT vec_id,
               list_transform(v, x -> CAST(floor(x * 1000000) AS BIGINT)) AS iv
        FROM e
    ), pl AS (
        SELECT t.t, b.b, j.j,
               (('0x' || substr(md5(CAST(t.t AS VARCHAR) || ':' ||
                   CAST(b.b AS VARCHAR) || ':' || CAST(j.j - 1 AS VARCHAR)),
                   1, 15))::BIGINT % 2001) - 1000 AS w
        FROM (SELECT unnest(generate_series(0, 15)) AS t) t,
             (SELECT unnest(generate_series(0, 3)) AS b) b,
             (SELECT unnest(generate_series(1,
                  (SELECT len(v) FROM e LIMIT 1))) AS j) j
    ), dots AS (
        SELECT ev.vec_id, pl.t, pl.b, sum(ev.iv[pl.j] * pl.w) AS dot
        FROM ev, pl GROUP BY 1, 2, 3
    ), bk AS (
        SELECT vec_id, t AS tbl,
               CAST(sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << b)
                             ELSE 0 END) AS BIGINT) AS bucket
        FROM dots GROUP BY 1, 2
    ), cand AS (
        SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id AS c_id
        FROM bk qb JOIN bk cb ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket
        WHERE qb.vec_id % {_ANN_STEP_SQL} = 0
          AND cb.vec_id <> qb.vec_id
    ), p AS (
        SELECT cand.q_id, cand.c_id,
               floor((CAST(list_sum(list_transform(
                          generate_series(1, len(iq.iv)),
                          j -> iq.iv[j] * ic.iv[j])) AS DOUBLE)
                      / (sqrt(CAST(list_sum(list_transform(
                             generate_series(1, len(iq.iv)),
                             j -> iq.iv[j] * iq.iv[j])) AS DOUBLE))
                         * sqrt(CAST(list_sum(list_transform(
                               generate_series(1, len(ic.iv)),
                               j -> ic.iv[j] * ic.iv[j])) AS DOUBLE))))
                     * 1000000) / 1000000 AS sim
        FROM cand
        JOIN ev iq ON iq.vec_id = cand.q_id
        JOIN ev ic ON ic.vec_id = cand.c_id
    )
    SELECT q_id, c_id, sim FROM (
        SELECT q_id, c_id, sim,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY sim DESC, c_id) AS rn
        FROM p
    ) WHERE rn <= 5
    """,
)
def lsh_portable_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL hyperplane-LSH ANN pipeline under a full value oracle
    (r11 — the ANN leg of the portable-hash program, after SimHash r6 and
    MinHash this round): DuckDB re-derives every md5-derived integer
    hyperplane component, every quantized sign bit (floor(x*1e6) int64
    dots — associative, so bucket membership is engine-exact where float
    dots could flip a near-zero sign between summation orders), the
    (table, bucket) candidate join, and the integer-exact quantized
    cosine re-rank (r12 — quantized_cosine: exact int64 dots < 2^53 +
    correctly-rounded sqrt/div/floor, so the sim double is bit-identical
    across engines BY CONSTRUCTION, closing ADVICE r11's half-even vs
    half-away rounding-boundary risk). The Gaussian lsh_topk stays the
    hot path (multiprobe, broadcast gathers, persisted bucket state);
    this twin makes its pipeline SHAPE row-exact verifiable."""
    from .operators.similarity import lsh_portable_topk

    emb = _embedding_vecs(spark, sf_dir)
    q = _ann_queries(emb, sf_dir)
    return lsh_portable_topk(emb, q, k=5, n_tables=16, n_bits=4)


@register(
    "deepar_export",
    """
    SELECT event_type,
           strftime(CAST(min(date_trunc('day', ts)) AS TIMESTAMP),
                    '%Y-%m-%d %H:%M:%S') AS start,
           CAST(count(DISTINCT date_trunc('day', ts)) AS INTEGER) AS target_len,
           CAST(count(*) AS BIGINT) AS target_sum
    FROM events GROUP BY 1
    """,
)
def deepar_export_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepAR JSON Lines export round-trip under an exact derived oracle:
    the JSON Lines are produced by to_deepar_jsonlines (byte format
    golden-tested in tests/test_forecast.py), then parsed BACK with
    from_json, and the parsed contract — start stamp, target length, target
    sum — is recomputed independently by the oracle from the raw events.
    Catches serialization drift (ordering, start formatting, missing days)
    with hash-exact comparison; target values are integer counts so the
    left-fold sum is exact."""
    from .forecast import to_deepar_jsonlines

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"), F.col("event_type")
        )
        .agg(_count(None))
    )
    export = to_deepar_jsonlines(daily, "event_type", "day", "n")
    parsed = export.select(
        "event_type",
        F.from_json(
            "jsonline", "start string, target array<double>"
        ).alias("j"),
    )
    return parsed.select(
        "event_type",
        F.col("j.start").alias("start"),
        F.size("j.target").alias("target_len"),
        F.aggregate("j.target", F.lit(0.0), lambda a, x: a + x)
        .cast("bigint")
        .alias("target_sum"),
    )


@register(
    "forecast_quantiles",
    """
    WITH daily AS (
        SELECT event_type AS series,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(count(*) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ), mx AS (
        SELECT series, max(day) AS last_day FROM daily GROUP BY 1
    ), resid AS (
        SELECT d.series, d.v - p.v AS r
        FROM daily d
        JOIN mx m ON m.series = d.series
        JOIN daily p ON p.series = d.series AND p.day = d.day - INTERVAL 7 DAY
        WHERE d.day > m.last_day - 7 * INTERVAL 1 DAY
    ), rq AS (
        SELECT series,
               quantile_cont(r, 0.1) AS r10,
               quantile_cont(r, 0.5) AS r50,
               quantile_cont(r, 0.9) AS r90
        FROM resid GROUP BY 1
    ), hs AS (
        SELECT unnest(generate_series(1, 14)) AS h
    ), fc AS (
        SELECT m.series,
               CAST(m.last_day + hs.h * INTERVAL 1 DAY AS TIMESTAMP) AS ts,
               d.v AS base, rq.r10, rq.r50, rq.r90
        FROM mx m
        CROSS JOIN hs
        JOIN daily d ON d.series = m.series
           AND d.day = m.last_day - (6 - ((hs.h - 1) % 7)) * INTERVAL 1 DAY
        JOIN rq ON rq.series = m.series
    )
    SELECT series, ts, 0.1 AS quantile, round(base + r10, 4) AS value FROM fc
    UNION ALL
    SELECT series, ts, 0.5 AS quantile, round(base + r50, 4) AS value FROM fc
    UNION ALL
    SELECT series, ts, 0.9 AS quantile, round(base + r90, 4) AS value FROM fc
    """,
)
def forecast_quantiles_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day p10/p50/p90 forecast per event_type series, under a FULL exact
    oracle: the seasonal-naive model is deterministic arithmetic — base =
    same-weekday value from the last season, plus empirical residual
    quantiles over the 14-day context (np.quantile 'linear' == DuckDB
    quantile_cont) — so the oracle SQL re-derives the whole forecast and the
    values hash-match after decimal rounding. Monotonicity/horizon contract
    checks remain in tests/test_forecast.py."""
    from .forecast import SeasonalQuantileForecaster

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"), F.col("event_type")
        )
        .agg(_count(None))
    )
    fc = SeasonalQuantileForecaster(
        time_freq="D", context_length=14, prediction_length=14
    )
    out = fc.predict(daily, "event_type", "day", "n")
    return out.select(
        "series", "ts", "quantile", F.round("value", 4).alias("value")
    )


@register(
    "forecast_quantiles_meanmodel",
    """
    WITH daily AS (
        SELECT event_type AS series,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(count(*) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ), idx AS (
        SELECT series, day, v,
               row_number() OVER (PARTITION BY series ORDER BY day) - 1 AS j,
               count(*) OVER (PARTITION BY series) AS n_total,
               max(day) OVER (PARTITION BY series) AS last_day
        FROM daily
    ), hist AS (
        SELECT * FROM idx WHERE j >= n_total - 28
    ), sm AS (
        SELECT series, j % 7 AS dow, avg(v) AS m FROM hist GROUP BY 1, 2
    ), resid AS (
        SELECT h.series, h.v - sm.m AS r
        FROM hist h JOIN sm ON sm.series = h.series AND sm.dow = h.j % 7
    ), rq AS (
        SELECT series,
               quantile_cont(r, 0.1) AS r10,
               quantile_cont(r, 0.5) AS r50,
               quantile_cont(r, 0.9) AS r90
        FROM resid GROUP BY 1
    ), meta AS (
        SELECT DISTINCT series, n_total, last_day FROM idx
    ), hs AS (
        SELECT unnest(generate_series(1, 14)) AS h
    ), fc AS (
        SELECT m.series,
               CAST(m.last_day + hs.h * INTERVAL 1 DAY AS TIMESTAMP) AS ts,
               sm.m AS base, rq.r10, rq.r50, rq.r90
        FROM meta m
        CROSS JOIN hs
        JOIN sm ON sm.series = m.series
           AND sm.dow = (m.n_total + hs.h - 1) % 7
        JOIN rq ON rq.series = m.series
    )
    SELECT series, ts, 0.1 AS quantile, round(base + r10, 4) AS value FROM fc
    UNION ALL
    SELECT series, ts, 0.5 AS quantile, round(base + r50, 4) AS value FROM fc
    UNION ALL
    SELECT series, ts, 0.9 AS quantile, round(base + r90, 4) AS value FROM fc
    """,
)
def forecast_quantiles_meanmodel_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The r12 QUALITY forecaster (VERDICT r11 #6 — seasonal-mean base +
    pooled residual quantiles; FORECAST_QUALITY.md backtest mean_wQL
    0.0293 vs naive 0.0375, reference DeepAR 0.0362) under a FULL exact
    oracle: positions, per-weekday means over the 28-day context,
    pooled residuals, quantile_cont == np.quantile('linear'), and the
    position-aligned future bases are all re-derived in SQL (the oracle
    replays positional weekday alignment via row_number, matching the
    engine's offset arithmetic; the engine's missing-weekday fallback
    never fires on a >= 2-season context). forecast_quantiles remains
    the seasonal-naive oracle twin."""
    from .forecast import SeasonalMeanQuantileForecaster

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"), F.col("event_type")
        )
        .agg(_count(None))
    )
    fc = SeasonalMeanQuantileForecaster(
        time_freq="D", context_length=28, prediction_length=14
    )
    out = fc.predict(daily, "event_type", "day", "n")
    return out.select(
        "series", "ts", "quantile", F.round("value", 4).alias("value")
    )


# ---------------------------------------------------------------------------
# Semi/anti joins, set ops, exact quantiles, moving windows
# ---------------------------------------------------------------------------


@register(
    "customers_without_orders",
    """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE c_custkey NOT IN (
        SELECT o_custkey FROM orders
        WHERE o_orderstatus = 'F' AND o_totalprice > 200000
    )
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT IN / NOT EXISTS shape) against a filtered order
    subset (every customer has SOME order in the testdata, so the
    unfiltered anti-join would be trivially empty). Broadcast-able build
    side when the key set is small; AQE decides."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    big_final = (
        _t(spark, sf_dir, "orders")
        .where((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 200000))
        .select("o_custkey")
    )
    return cust.join(big_final, cust.c_custkey == big_final.o_custkey, "left_anti")


@register(
    "customers_with_orders_semi",
    """
    SELECT c_custkey FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    """,
)
def customers_with_orders_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (IN / EXISTS shape) — no fact-side duplication."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")


@register(
    "intersect_user_sets",
    """
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def intersect_user_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics) of two filtered key sets."""
    ev = _t(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "click").select("user_id")
    b = ev.where(F.col("event_type") == "purchase").select("user_id")
    return a.intersect(b)


@register(
    "except_user_sets",
    """
    SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
    FROM events WHERE event_type = 'signup'
    EXCEPT
    SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
    FROM events WHERE event_type = 'error'
    """,
)
def except_user_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics) at (user, day) granularity — days a user
    signed up without hitting an error."""
    ev = _t(spark, sf_dir, "events")

    def proj(kind: str) -> DataFrame:
        return ev.where(F.col("event_type") == kind).select(
            "user_id", F.date_trunc("day", F.col("ts")).alias("day")
        )

    return proj("signup").subtract(proj("error"))


@register(
    "median_value_by_type",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS median_value,
           round(quantile_cont(value, 0.9), 4) AS p90_value
    FROM events GROUP BY event_type
    """,
)
def median_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated quantiles (Spark `percentile` == DuckDB
    quantile_cont: sort + linear interpolation — deterministic on both).
    The approximate scale path is percentile_approx/approx_count_distinct;
    exact quantile needs a per-group sort, fine post-aggregation or on
    bounded groups."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("median_value"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90_value"),
    )


@register(
    "moving_avg_7day",
    """
    WITH d AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n
        FROM events GROUP BY 1
    )
    SELECT day, n,
           round(avg(CAST(n AS DOUBLE)) OVER (
               ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ), 4) AS ma7
    FROM d
    """,
)
def moving_avg_7day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing moving average over the daily series (rows-frame
    window). Single-partition window is safe post-aggregation (~30 rows);
    per-series windows partition by series key at scale."""
    d = (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(_count(None))
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return d.select(
        "day", "n", F.round(F.avg(F.col("n").cast("double")).over(w), 4).alias("ma7")
    )


@register(
    "multimodal_decode_meta",
    """
    WITH b AS (
        SELECT text, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS blen
        FROM documents
    )
    SELECT md5(text) AS content_hash,
           CAST(1 + (CASE WHEN blen < 1 THEN 0 ELSE
                 (strpos('0123456789ABCDEF', substr(hx, 1, 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx, 2, 1)) - 1) END)
               % 64 AS INTEGER) AS width,
           CAST(1 + (CASE WHEN blen < 2 THEN 0 ELSE
                 (strpos('0123456789ABCDEF', substr(hx, 3, 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx, 4, 1)) - 1) END)
               % 64 AS INTEGER) AS height,
           CAST(1 + blen % 7 AS INTEGER) AS n_frames
    FROM b
    """,
)
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing under oracle check: documents' text bytes
    stand in for media payloads, mapInPandas runs the deterministic fake
    decoder, and the oracle recomputes the same pseudo-metadata in SQL —
    BYTE-exact (ADVICE r06): the oracle derives width/height from the
    first two UTF-8 BYTES via hex(encode(text)) and n_frames from
    octet_length, matching deterministic_fake_decoder's head-byte /
    len(bytes) math for any text (multi-byte characters, empty strings
    with the decoder's zero-padding) — not just ASCII. Validates the
    Arrow batch path end-to-end: binary column in, typed metadata out."""
    from .operators.multimodal import attach_multimodal, decode_features

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text"), F.col("text").cast("binary").alias("payload")
    )
    media = attach_multimodal(docs, "payload", "image/fake")
    decoded = decode_features(media)
    return decoded.select("content_hash", "width", "height", "n_frames")


@register(
    "multimodal_packed_sequences",
    """
    WITH b AS (
        SELECT doc_id, lang, text, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS blen
        FROM documents
    ), m AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_text_tok,
               CAST(
                 (((1 + (CASE WHEN blen < 1 THEN 0 ELSE
                       (strpos('0123456789ABCDEF', substr(hx, 1, 1)) - 1) * 16
                     + (strpos('0123456789ABCDEF', substr(hx, 2, 1)) - 1) END)
                     % 64) + 15) // 16)
                 * (((1 + (CASE WHEN blen < 2 THEN 0 ELSE
                       (strpos('0123456789ABCDEF', substr(hx, 3, 1)) - 1) * 16
                     + (strpos('0123456789ABCDEF', substr(hx, 4, 1)) - 1) END)
                     % 64) + 15) // 16)
                 * (1 + blen % 7) AS BIGINT) AS patch_tok
        FROM b
    ), d AS (
        SELECT doc_id, lang,
               CAST(floor(doc_id / 1000) AS BIGINT) AS shard,
               n_text_tok, patch_tok, n_text_tok + patch_tok AS n_tok
        FROM m
    )
    SELECT doc_id, lang, shard, n_text_tok, patch_tok, n_tok,
           CAST(floor(
               (sum(n_tok) OVER (
                    PARTITION BY lang, shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) - n_tok) / 512.0
           ) AS BIGINT) AS bin
    FROM d
    """,
)
def multimodal_packed_sequences_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interleaved MULTIMODAL sequence packing (r12, VERDICT r11 #5 —
    §2.12's missing next step after decode/dedup): per-item cost = text
    tokens + ViT-style patch-token equivalents derived from the DECODED
    metadata (patch_token_cost: ceil(w/16)*ceil(h/16)*n_frames, integer
    arithmetic), one deterministic pack_sequences(n_tok_col=) packing
    over the mixed costs. Decode runs once per DISTINCT payload
    (split_payload_table indirection — payload bytes never shuffle) and
    the typed metadata joins back on content_hash. The oracle replays
    the decoded dims byte-exactly (hex(encode(text)) — the proven
    multimodal_decode_meta trick), the patch/text costs, and the packing
    window arithmetic."""
    from .operators.multimodal import (
        attach_multimodal,
        decode_features,
        multimodal_item_cost,
        split_payload_table,
    )
    from .operators.mlpipeline import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("text"),
        F.col("text").cast("binary").alias("payload"),
    )
    media = attach_multimodal(docs, "payload", "image/fake")
    light, payloads = split_payload_table(media)
    meta = decode_features(
        payloads.withColumn("media_type", F.lit("image/fake"))
    ).select("content_hash", "width", "height", "n_frames")
    items = light.join(meta, "content_hash").select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " "))
        .cast("bigint")
        .alias("n_text_tok"),
        multimodal_item_cost(
            F.size(F.split(F.col("text"), " ")),
            "width", "height", "n_frames", patch=16,
        ).alias("n_tok"),
    )
    items = items.withColumn(
        "patch_tok", (F.col("n_tok") - F.col("n_text_tok")).cast("bigint")
    )
    # carry_cols keeps the per-item annotations in the packing projection
    # — a join-back would re-execute the decode subtree a second time
    packed = pack_sequences(
        items, "doc_id", "text", "lang",
        budget_tokens=512, shard_size=1000, n_tok_col="n_tok",
        carry_cols=["n_text_tok", "patch_tok"],
    )
    return packed.select(
        "doc_id", "lang", "shard", "n_text_tok", "patch_tok", "n_tok", "bin"
    )


@register(
    "multimodal_curation_pipeline",
    r"""
    WITH tagged AS (
        SELECT doc_id, text, md5(text) AS content_hash,
               hex(encode(text)) AS hx, octet_length(encode(text)) AS blen,
               min(doc_id) OVER (PARTITION BY md5(text)) AS _mid,
               count(*) OVER (PARTITION BY md5(text)) AS n_copies
        FROM documents
    )
    SELECT doc_id, content_hash, CAST(n_copies AS BIGINT) AS n_copies,
           CAST(1 + (CASE WHEN blen < 1 THEN 0 ELSE
                 (strpos('0123456789ABCDEF', substr(hx, 1, 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx, 2, 1)) - 1) END)
               % 64 AS INTEGER) AS width,
           CAST(1 + (CASE WHEN blen < 2 THEN 0 ELSE
                 (strpos('0123456789ABCDEF', substr(hx, 3, 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx, 4, 1)) - 1) END)
               % 64 AS INTEGER) AS height,
           CAST(1 + blen % 7 AS INTEGER) AS n_frames,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER)
               AS n_tok,
           round(CAST(length(text)
                      - length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                      AS DOUBLE) / length(text), 4) AS non_alpha,
           (len(regexp_split_to_array(trim(text), '\s+')) BETWEEN 5
                AND 10000
            AND CAST(length(text)
                     - length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                     AS DOUBLE) / length(text) <= 0.3) AS kept,
           CAST(length(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '[EMAIL]', 'g'),
                   '\+?[0-9]{1,3}[-. (]{0,2}[0-9]{3}[-. )]{0,2}[0-9]{3}[-. ]?[0-9]{4}',
                   '[PHONE]', 'g'),
                 '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}',
                 '[IP]', 'g'),
               '[0-9]{4,}', '[NUM]', 'g')) AS INTEGER) AS redacted_len
    FROM tagged WHERE doc_id = _mid
    """,
)
def multimodal_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-bearing documents through the full multimodal + curation
    composition (VERDICT r05 #7): attach_multimodal tags each doc's payload
    (text bytes stand in for image bytes, as in multimodal_decode_meta),
    split_payload_table separates the light relational side from the
    payload store, exact dedup runs BY CONTENT HASH on the light side
    (keep-min-id — only (hash, id) rows shuffle, never payload bytes),
    payloads re-attach at the consumption edge for decode_features, and the
    surviving representatives flow through the text-curation operators
    (token/non-alpha quality gate and the PII redaction chain). One row per
    distinct payload: provenance (n_copies), decoded pseudo-metadata,
    quality verdict, redacted length — every stage SQL-recomputed by the
    oracle (decode metadata BYTE-exact via hex(encode(text)), matching the
    decoder's head-byte math for non-ASCII text too — ADVICE r06; see
    multimodal_decode_meta). At 100 TB the shape is the point: payload
    bytes cross the wire exactly once (the re-attach equi-join), dedup and
    curation shuffle only light rows."""
    from .operators.multimodal import (
        attach_multimodal,
        decode_features,
        split_payload_table,
    )
    from .operators.textanalysis import redact_pii

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text"), F.col("text").cast("binary").alias("payload")
    )
    media = attach_multimodal(docs, "payload", "image/fake")
    light, payloads = split_payload_table(media)
    w = Window.partitionBy("content_hash")
    reps = (
        light.withColumn("_mid", F.min("doc_id").over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(w))
        .where(F.col("doc_id") == F.col("_mid"))
        .drop("_mid")
    )
    # decode runs over the DISTINCT payload store (once per unique payload,
    # not once per document copy); the typed metadata joins back to the
    # light side on the hash key
    meta = decode_features(
        payloads.withColumn("media_type", F.lit("image/fake"))
    ).select("content_hash", "width", "height", "n_frames")
    decoded = reps.join(meta, "content_hash")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    n_chars = F.length(F.col("text"))
    alpha = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
    non_alpha = F.round(
        (n_chars - alpha).cast("double") / n_chars, 4
    )
    kept = n_tok.between(5, 10000) & (
        ((n_chars - alpha).cast("double") / n_chars) <= 0.3
    )
    return decoded.select(
        "doc_id",
        "content_hash",
        "n_copies",
        "width",
        "height",
        "n_frames",
        n_tok.alias("n_tok"),
        non_alpha.alias("non_alpha"),
        kept.alias("kept"),
        F.length(redact_pii("text")).alias("redacted_len"),
    )


@register(
    "ivf_portable_topk",
    f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), ev AS (
        SELECT vec_id,
               list_transform(v, x -> CAST(floor(x * 1000000) AS BIGINT)) AS iv
        FROM e
    ), cent AS (
        SELECT vec_id AS cid, iv AS civ FROM ev ORDER BY vec_id LIMIT 16
    ), dist AS (
        SELECT ev.vec_id, cent.cid,
               list_sum(list_transform(generate_series(1, len(ev.iv)),
                   j -> (ev.iv[j] - cent.civ[j])
                        * (ev.iv[j] - cent.civ[j]))) AS d
        FROM ev, cent
    ), ranked_cells AS (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM dist
    ), assign AS (
        SELECT vec_id AS c_id, cid AS cell FROM ranked_cells WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS q_id, cid AS cell FROM ranked_cells
        WHERE rn <= 6
          AND vec_id % {_ANN_STEP_SQL} = 0
    ), cand AS (
        SELECT p.q_id, a.c_id FROM probes p JOIN assign a ON a.cell = p.cell
        WHERE a.c_id <> p.q_id
    ), pr AS (
        SELECT cand.q_id, cand.c_id,
               floor((CAST(list_sum(list_transform(
                          generate_series(1, len(iq.iv)),
                          j -> iq.iv[j] * ic.iv[j])) AS DOUBLE)
                      / (sqrt(CAST(list_sum(list_transform(
                             generate_series(1, len(iq.iv)),
                             j -> iq.iv[j] * iq.iv[j])) AS DOUBLE))
                         * sqrt(CAST(list_sum(list_transform(
                               generate_series(1, len(ic.iv)),
                               j -> ic.iv[j] * ic.iv[j])) AS DOUBLE))))
                     * 1000000) / 1000000 AS sim
        FROM cand
        JOIN ev iq ON iq.vec_id = cand.q_id
        JOIN ev ic ON ic.vec_id = cand.c_id
    )
    SELECT q_id, c_id, sim FROM (
        SELECT q_id, c_id, sim,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY sim DESC, c_id) AS rn
        FROM pr
    ) WHERE rn <= 5
    """,
)
def ivf_portable_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL IVF ANN pipeline under a full value oracle (r11 — the
    inverted-file leg of the portable program, completing the ANN family
    after lsh_portable_topk): centroids are the 16 smallest-id vectors
    (deterministic, SQL-replayable — the fitted-k-means path stays the
    quality twin), assignment/probing is integer-exact argmin of squared
    distance over floor-quantized vectors (no float argmin tie can
    diverge between engines; ties fall to the smallest centroid id in
    both), queries probe 6 cells, and the re-rank rides the
    integer-exact quantized cosine + id tiebreak (quantized_cosine,
    r12 — bit-identical across engines by construction). DuckDB
    re-derives every distance, cell assignment, probe set, candidate,
    and re-ranked sim."""
    from .operators.similarity import ivf_portable_topk

    emb = _embedding_vecs(spark, sf_dir)
    q = _ann_queries(emb, sf_dir)
    return ivf_portable_topk(emb, q, k=5, n_cells=16, n_probe=6)


@register("ivf_ann_topk")
def ivf_ann_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: deterministic mini-KMeans cells + n_probe
    nearest-cell search + exact re-rank (rows-only: recall vs the
    brute-force exact twin embedding_cosine_topk asserted in tests and in
    ivf_recall_check). Rows-only WAIVER: cell assignment depends on FITTED
    centroids, so the pair set is not SQL-predictable; the identical
    pipeline over deterministic smallest-id centroids and integer-exact
    assignment IS hash-exact verified as ivf_portable_topk (r11), and
    this variant's accuracy contract is driver-checked via the
    oracle-backed ivf_recall_check twin. Centroids
    are model state: fitted once per sf_dir on a seeded sample and memoized,
    so repeat invocations (bench loops, the conformance gate) pay only the
    assign pass + cell equi-join — the same fit-once-persist shape the
    operator prescribes at 100TB."""
    from .operators.similarity import ivf_topk

    emb = _embedding_vecs(spark, sf_dir)
    q = _ann_queries(emb, sf_dir)
    return ivf_topk(
        emb, q, k=5, n_centroids=16, n_probe=8,
        centroids=_ivf_centroids_for(spark, sf_dir),
    )


def _ivf_centroids_for(spark: SparkSession, sf_dir: str):
    """Fit-once-per-sf_dir IVF centroids shared by the IVF queries: one
    Lloyd pass over a 1k-row seeded sample. Centroid quality only gates
    recall via n_probe=8/16 cell coverage, and the recall contract
    (ivf_recall_check, pytest) stays green with the cheaper fit — the
    100TB posture is precisely "fit on a tiny sample"."""
    from .operators.similarity import ivf_centroids

    return memo(("ivf", sf_dir, 16), lambda: ivf_centroids(
        _embedding_vecs(spark, sf_dir), "v", n_centroids=16, n_iters=1,
        id_col="vec_id", sample_rows=1024,
    ))


# ---------------------------------------------------------------------------
# SQL entry point (Entry B) + scalar-function coverage
# ---------------------------------------------------------------------------


@register(
    "sql_flagship_twin",
    """
    SELECT event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS date,
           count(*) AS ride_count
    FROM events
    WHERE ts > TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-25'
    GROUP BY 1, 2
    """,
)
def sql_flagship_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship query via the SQL ENTRY POINT (spark.sql over
    registered views — SURVEY.md §3.2): same oracle as the DataFrame
    version, proving both surfaces hit the same Catalyst planner."""
    from .sql_surface import engine_sql

    return engine_sql(
        spark,
        sf_dir,
        """
        SELECT event_type,
               date_trunc('day', ts) AS date,
               count(*) AS ride_count
        FROM events
        WHERE ts > TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-25'
        GROUP BY event_type, date_trunc('day', ts)
        """,
    )


@register(
    "date_parts",
    """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
           CAST(month(o_orderdate) AS INTEGER) AS m,
           count(*) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM orders GROUP BY 1, 2
    """,
)
def date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction (year/month) + grouped rollup of order totals."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
    ).agg(
        _count(None),
        F.round(F.sum(_dec("o_totalprice", 18, 4)), 2).cast("double").alias("total"),
    )


@register(
    "string_functions_probe",
    """
    SELECT p_partkey,
           upper(p_brand) AS brand_u,
           substr(p_type, 1, 5) AS type5,
           CAST(length(p_name) AS INTEGER) AS name_len,
           p_brand || '#' || p_type AS brand_type,
           replace(p_name, ' ', '_') AS name_us
    FROM part
    """,
)
def string_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar surface: upper/substr/length/concat/replace — all
    codegen built-ins (SURVEY.md §2.8 extension row)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_type", 1, 5).alias("type5"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_us"),
    )


@register(
    "math_functions_probe",
    """
    SELECT l_orderkey, l_linenumber,
           abs(l_extendedprice - 50000) AS dist_from_50k,
           round(sqrt(l_extendedprice), 6) AS sqrt_price,
           round(ln(l_extendedprice), 6) AS ln_price,
           CAST(ceil(l_discount * 100) AS BIGINT) AS disc_pct_ceil,
           CAST(floor(l_quantity) AS BIGINT) AS qty_floor
    FROM lineitem
    """,
)
def math_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar surface: abs/sqrt/ln/ceil/floor. sqrt and ln are rounded
    to 6 — libm vs JVM can differ in the last ulp; at these magnitudes
    round(.,6) absorbs it. abs/ceil/floor are exact."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - 50000).alias("dist_from_50k"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("sqrt_price"),
        F.round(F.log("l_extendedprice"), 6).alias("ln_price"),
        F.ceil(F.col("l_discount") * 100).alias("disc_pct_ceil"),
        F.floor("l_quantity").alias("qty_floor"),
    )


@register(
    "inclusive_range_count",
    """
    SELECT event_type, count(*) AS n FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-10' AND TIMESTAMP '2024-01-12'
    GROUP BY event_type
    """,
)
def inclusive_range_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: INCLUSIVE label-range slice (the pandas .loc['a':'b'] analogue,
    DataDiscoveryAndConversation.rst:424) — BETWEEN, vs P6's strict bounds."""
    ev = read_events_ts_range(
        spark, sf_dir, "2024-01-10", "2024-01-12",
        lower_inclusive=True, upper_inclusive=True,
    )
    return (
        ev.groupBy("event_type")
        .agg(_count(None))
    )


@register(
    "parse_timestamp_format",
    """
    SELECT event_id,
           strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS ts_sec
    FROM events
    """,
)
def parse_timestamp_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: explicit-format to_timestamp parse (the reference's
    to_timestamp(c, 'yyyy-MM-dd HH:mm:ss'),
    GluePySparkMLFeatureEngineering.rst:447-448) — round-trips each ts
    through format-and-parse, yielding second-truncated timestamps."""
    fmt = "yyyy-MM-dd HH:mm:ss"
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.to_timestamp(F.date_format("ts", fmt), fmt).alias("ts_sec"),
    )


@register(
    "approx_sketches",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS hll_err_le_5pct,
           TRUE AS median_in_p40_p60
    FROM events GROUP BY 1
    """,
)
def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketches — the 100TB substitutes for exact DISTINCT /
    quantiles — under a DERIVED oracle: the sketch values themselves are
    engine-specific (HLL++/GK), so the query emits the EXACT ground truths
    (hash-checked against the oracle) plus booleans asserting the sketches
    landed inside their accuracy bounds (HLL relative error <= 5% at rsd
    0.02; approx median between the exact p40 and p60). A sketch regression
    flips a boolean and fails the hash."""
    ev = _t(spark, sf_dir, "events")
    # The exact COUNT(DISTINCT) runs in its OWN aggregation, joined back on
    # the 5-row group key: mixing a distinct aggregate with the
    # imperative-buffer aggregates (percentile / HLL / GK) makes Catalyst
    # plan an Expand that duplicates EVERY input row through the percentile
    # buffers' partial aggregation — measured 58 s combined vs 5.4 s split
    # at sf10 (10M events). The join is two tiny post-agg frames.
    sketches = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10000).alias("approx_median"),
        F.expr("percentile(value, 0.4)").alias("p40"),
        F.expr("percentile(value, 0.6)").alias("p60"),
        _count(None),
    )
    exact_d = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    agg = sketches.join(exact_d, "event_type")
    rel_err = F.abs(F.col("approx_users") - F.col("exact_users")) / F.col(
        "exact_users"
    )
    return agg.select(
        "event_type",
        "n",
        "exact_users",
        (rel_err <= 0.05).alias("hll_err_le_5pct"),
        (
            (F.col("approx_median") >= F.col("p40"))
            & (F.col("approx_median") <= F.col("p60"))
        ).alias("median_in_p40_p60"),
    )


# ---------------------------------------------------------------------------
# Embedding near-dup + advanced text fingerprints (SURVEY.md §2.12)
# ---------------------------------------------------------------------------


@register(
    "embedding_neardup_blocked",
    """
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                 6) AS sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                6) >= 0.42
    """,
)
def embedding_neardup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup with label BLOCKING (the classic blocked-
    dedup pattern: candidate pairs only within a blocking key, here the
    label) — exact-oracle twin of the LSH-bucketed scale path
    (operators.dedup.embedding_near_duplicates). Threshold applied on the
    ROUNDED similarity so the cut is reproducible across engines.

    The block join moves BARE id pairs (the vector table broadcasts both
    join sides), and the cosine verify gathers vectors from a broadcast
    id->matrix inside one Arrow-batched numpy kernel — the same posture as
    the LSH path's verify. The earlier form rode both 64-dim arrays
    through the join and folded the dot product element-by-element in
    interpreted expressions: 1.3G scalar folds at sf1 (137 s vs ~6 s
    now). As the exact BLOCKED baseline its pair count is inherently
    quadratic per block; the unblocked corpus-scale path is
    embedding_neardup_lsh."""
    from .operators.similarity import (
        _collect_gather,
        _pair_cosine_gather,
        _pair_cosine_udf,
        as_double_vec,
    )

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_vec("embedding").alias("v")
    )
    a = e.select(F.col("vec_id").alias("id_a"), "label")
    b = e.select(F.col("vec_id").alias("id_b"), "label")
    pairs = a.join(b, "label").where(F.col("id_a") < F.col("id_b"))
    dim = int(e.select(F.size("v").alias("d")).first()["d"])
    gather = _collect_gather(e.select("vec_id", "v"), dim)
    if gather is not None:
        sim = _pair_cosine_gather(spark, gather)("id_a", "id_b")
        return pairs.select("id_a", "id_b", sim.alias("sim")).where(
            F.col("sim") >= 0.42
        )
    # over the broadcast budget: re-attach vectors via equi-joins and run
    # the pairwise kernel over the attached columns instead
    va = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    vb = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    sim = _pair_cosine_udf()("va", "vb")
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim.alias("sim"))
        .where(F.col("sim") >= 0.42)
    )


@register("embedding_neardup_lsh")
def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup — the unblocked scale path. Rows-only
    WAIVER: GAUSSIAN hyperplane buckets aren't SQL-reproducible; the
    identical bucketed pipeline over md5-derived integer hyperplanes IS
    hash-exact verified as embedding_neardup_portable (r11), its
    exact-oracle twin is embedding_neardup_blocked (green oracle row),
    and recall vs that exact pair set is asserted in tests."""
    from .operators.dedup import embedding_near_duplicates

    e = _embedding_vecs(spark, sf_dir)
    return embedding_near_duplicates(e, "vec_id", "v", threshold=0.42)


@register(
    "embedding_neardup_portable",
    """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), ev AS (
        SELECT vec_id,
               list_transform(v, x -> CAST(floor(x * 1000000) AS BIGINT)) AS iv
        FROM e
    ), pl AS (
        SELECT t.t, b.b, j.j,
               (('0x' || substr(md5(CAST(t.t AS VARCHAR) || ':' ||
                   CAST(b.b AS VARCHAR) || ':' || CAST(j.j - 1 AS VARCHAR)),
                   1, 15))::BIGINT % 2001) - 1000 AS w
        FROM (SELECT unnest(generate_series(0, 15)) AS t) t,
             (SELECT unnest(generate_series(0, 3)) AS b) b,
             (SELECT unnest(generate_series(1,
                  (SELECT len(v) FROM e LIMIT 1))) AS j) j
    ), dots AS (
        SELECT ev.vec_id, pl.t, pl.b, sum(ev.iv[pl.j] * pl.w) AS dot
        FROM ev, pl GROUP BY 1, 2, 3
    ), bk AS (
        SELECT vec_id, t AS tbl,
               CAST(sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << b)
                             ELSE 0 END) AS BIGINT) AS bucket
        FROM dots GROUP BY 1, 2
    ), cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket
        WHERE a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, sim FROM (
        SELECT cand.id_a, cand.id_b,
               floor((CAST(list_sum(list_transform(
                          generate_series(1, len(ia.iv)),
                          j -> ia.iv[j] * ib.iv[j])) AS DOUBLE)
                      / (sqrt(CAST(list_sum(list_transform(
                             generate_series(1, len(ia.iv)),
                             j -> ia.iv[j] * ia.iv[j])) AS DOUBLE))
                         * sqrt(CAST(list_sum(list_transform(
                               generate_series(1, len(ib.iv)),
                               j -> ib.iv[j] * ib.iv[j])) AS DOUBLE))))
                     * 1000000) / 1000000 AS sim
        FROM cand
        JOIN ev ia ON ia.vec_id = cand.id_a
        JOIN ev ib ON ib.vec_id = cand.id_b
    ) WHERE sim >= 0.42
    """,
)
def embedding_neardup_portable_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bucketed embedding near-dup under a full value oracle (r11 —
    closing the last hash-bucket rows-only family): DuckDB replays the
    integer hyperplanes, every quantized sign bit, the (table, bucket)
    self-join candidates, and the quantized-cosine >= 0.42 verdicts —
    the sim double is bit-identical across engines by construction
    (quantized_cosine, r12), so the threshold boundary cannot straddle.
    The Gaussian embedding_neardup_lsh stays
    the hot path; embedding_neardup_blocked remains the
    blocking-independent exact ground truth."""
    from .operators.similarity import embedding_neardup_portable

    e = _embedding_vecs(spark, sf_dir)
    return embedding_neardup_portable(e, "vec_id", "v", threshold=0.42)


@register(
    "bpe_token_count",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS INTEGER)
               AS n_bpe
    FROM documents
    """,
)
def bpe_token_count_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (operators.textanalysis.bpe_token_count)."""
    from .operators.textanalysis import bpe_token_count

    return _t(spark, sf_dir, "documents").select(
        "doc_id", bpe_token_count("text").alias("n_bpe")
    )


from .operators.bpe import bpe_encode_oracle_sql as _bpe_enc_sql
from .operators.bpe import bpe_train_oracle_sql as _bpe_train_sql

def _bpe_merges_for(spark: SparkSession, sf_dir: str, n_merges: int = 16):
    """Train-once-per-(sf_dir, n) merge table shared by the BPE queries
    (same pattern as _ivf_centroids_for): the merge loop is
    deterministic, so re-deriving it per query would only re-run the
    word-count shuffle."""
    from .operators.bpe import train_bpe_merges

    return memo(("bpe", sf_dir, n_merges), lambda: train_bpe_merges(
        _t(spark, sf_dir, "documents"), "text", n_merges=n_merges
    ))


@register("bpe_train_merges", _bpe_train_sql(16))
def bpe_train_merges_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEARNED byte-pair-encoding merge table under a FULL value oracle
    (r12 — VERDICT r11 #1): the engine aggregates word-type counts
    distributed (one shuffle) and runs the deterministic merge loop
    (highest pair count, ties by (left, right) code-point order, greedy
    left-to-right application); DuckDB re-derives all 16 merges from
    scratch — per-step pair-count aggregations, the ORDER BY pick, and
    merge application as a list_reduce string fold. Output one row per
    merge: (merge_rank, l_sym, r_sym, merged, pair_count)."""
    from .operators.bpe import merge_table_df

    return merge_table_df(spark, _bpe_merges_for(spark, sf_dir, 16))


@register("bpe_encode_counts", _bpe_enc_sql(16))
def bpe_encode_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document LEARNED-BPE token counts under the corpus-trained
    16-merge table — the token-accounting upgrade over the regex
    bpe_token_count (r12): encode applies merges sequentially in rank
    order (identical to the trainer's state updates, so train/encode
    agreement holds by construction), distributed as encode-DISTINCT-
    words + join + per-doc sum. The oracle replays training AND encodes
    every doc by joining its words to the replayed final word states."""
    from .operators.bpe import bpe_encode_counts

    return bpe_encode_counts(
        _t(spark, sf_dir, "documents"),
        _bpe_merges_for(spark, sf_dir, 16),
        "text",
        "doc_id",
    )


from .operators.bpe import bpe_tokens_oracle_sql as _bpe_toks_sql


@register("bpe_train_merges_capped", _bpe_train_sql(12, max_word_types=12))
def bpe_train_merges_capped_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB trainer knob under the oracle (r12): max_word_types
    caps driver-side state to the top-k word types by (count DESC, word)
    — deterministic, so DuckDB replays the CAPPED vocabulary (ORDER BY /
    LIMIT in the wt CTE) and then the full 12-merge training loop over
    it. With the conformance corpus's ~31 types, a cap of 12 genuinely
    changes the vocabulary the merges are learned from, so a hash match
    proves cap semantics, not just the uncapped path again."""
    from .operators.bpe import merge_table_df, train_bpe_merges

    merges = train_bpe_merges(
        _t(spark, sf_dir, "documents"), "text", n_merges=12,
        max_word_types=12,
    )
    return merge_table_df(spark, merges)


@register("bpe_encode_tokens", _bpe_toks_sql(16))
def bpe_encode_tokens_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document learned-BPE TOKEN STREAMS (r12 — the training-export
    companion to bpe_encode_counts): every doc's full token sequence in
    word order, emitted as a ' '-joined string plus its length. The
    oracle replays training to the final word states and rebuilds each
    stream with an order-preserving list aggregation — hash-match
    proves the engine's distinct-word-encode + positional reassembly
    reproduces the exact token sequence, not just its count."""
    from .operators.bpe import bpe_encode_tokens

    toks = bpe_encode_tokens(
        _t(spark, sf_dir, "documents"),
        _bpe_merges_for(spark, sf_dir, 16),
        "text",
        "doc_id",
    )
    return toks.select(
        "doc_id",
        F.concat_ws(" ", F.col("tokens")).alias("token_stream"),
        F.size("tokens").cast("bigint").alias("n_tokens"),
    )


@register(
    "bpe_packed_sequences",
    f"""
    WITH enc0 AS ({_bpe_enc_sql(16)}),
    d AS (
        SELECT doc_id, lang,
               CAST(floor(doc_id / 1000) AS BIGINT) AS shard,
               (SELECT n_bpe FROM enc0 WHERE enc0.doc_id = documents.doc_id)
                   AS n_tok
        FROM documents
    )
    SELECT doc_id, lang, shard, n_tok,
           CAST(floor(
               (sum(n_tok) OVER (
                    PARTITION BY lang, shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) - n_tok) / 512.0
           ) AS BIGINT) AS bin
    FROM d
    """,
)
def bpe_packed_sequences_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing budgeted in LEARNED-BPE tokens (r12 — the
    pack_sequences wiring VERDICT r11 #1 asked for): per-doc counts from
    the corpus-trained merge table feed pack_sequences(n_tok_col=) so
    bins are sized in actual tokenizer tokens; same deterministic
    (lang, shard, doc_id) running-sum shape as sequence_packing."""
    from .operators.bpe import bpe_encode_counts
    from .operators.mlpipeline import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    counts = bpe_encode_counts(
        docs, _bpe_merges_for(spark, sf_dir, 16), "text", "doc_id"
    )
    return pack_sequences(
        docs.join(counts, "doc_id"),
        "doc_id",
        "text",
        "lang",
        budget_tokens=512,
        shard_size=1000,
        n_tok_col="n_bpe",
    )


@register(
    "rolling_hash_fingerprint",
    """
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                            list_transform(regexp_split_to_array(text, ''),
                                           ch -> CAST(ascii(ch) AS BIGINT))),
               (acc, x) -> (acc * 131 + x) % 1000000007
           ) AS rhash
    FROM documents
    """,
)
def rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-aware polynomial rolling-hash fingerprint
    (operators.textanalysis.rolling_hash); exact cross-engine (modular
    arithmetic, no overflow). Scan spread to core count first: the
    per-character aggregate fold is the most CPU-dense scan-local kernel
    in the registry and the documents file has 1-2 row groups at bench
    SFs (r12 interleaved A/B: sf1 2.26 -> 1.21 s, sf0.1 0.38 -> 0.26 s)."""
    from .operators.textanalysis import rolling_hash

    return spread_for_cpu(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", rolling_hash("text").alias("rhash"))


@register("tfidf_features")
def tfidf_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib TF-IDF featurization summary (Tokenizer -> StopWordsRemover ->
    HashingTF -> IDF). Rows-only WAIVER: HashingTF bucket indices and IDF
    weights are MLlib-internal (murmur3 feature hashing) and not
    SQL-reproducible; the explicit-vocabulary formulation IS value-exact
    verified as tfidf_exact_features, plus structural checks in tests."""
    from .operators.mlpipeline import tfidf_features

    return tfidf_features(_t(spark, sf_dir, "documents"), "text", "doc_id")


# ---------------------------------------------------------------------------
# Temporal joins Spark lacks natively (SURVEY/prompt: as-of join, range join)
# ---------------------------------------------------------------------------


@register(
    "asof_join_last_signup",
    """
    WITH p AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    ), s AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'signup'
    )
    SELECT p.user_id, p.ts, p.event_id, s.value AS r_value
    FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
)
def asof_join_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join: each purchase gets the value of the same
    user's LATEST signup at or before it (NULL if none). Spark has no native
    ASOF JOIN; operators.temporal_joins.asof_join composes it as
    union + per-key window carry-forward (one shuffle on user_id). Oracle:
    DuckDB's native ASOF LEFT JOIN."""
    from .operators.temporal_joins import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id", "ts", "value"
    )
    return asof_join(purchases, signups, "user_id", "ts", "ts", ["value"])


@register(
    "range_join_campaign_counts",
    f"""
    WITH f AS (SELECT {_EPOCH_SQL} AS epoch FROM events),
         b AS (SELECT min(epoch) AS lo, max(epoch) AS hi FROM f),
         spine AS (SELECT unnest(generate_series(lo, hi, 86400)) AS epoch FROM b),
         campaigns AS (
             SELECT make_timestamp(epoch * 1000000) AS cstart,
                    make_timestamp((epoch + 259200) * 1000000) AS cend
             FROM spine WHERE (epoch / 86400) % 5 = 0
         )
    SELECT c.cstart, count(*) AS n
    FROM events e JOIN campaigns c
      ON e.ts >= c.cstart AND e.ts < c.cend
    GROUP BY c.cstart
    """,
)
def range_join_campaign_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unkeyed range (interval) join: events matched into 3-day 'campaign'
    windows that start every 5 days — via the bucketed range join
    (operators.temporal_joins.range_join: interval rows explode to
    overlapped day-buckets, facts get one bucket each, equi-join + exact
    bounds filter; never an inequality cross join). Oracle: DuckDB
    inequality join."""
    from .operators.temporal_joins import range_join

    facts = with_epoch(_t(spark, sf_dir, "events"), "ts")
    lo, hi = epoch_bounds(facts)
    campaigns = (
        date_spine(spark, lo, hi)
        .where((F.col("epoch") / 86400 % 5).cast("bigint") == 0)
        .select(
            F.col("epoch").cast("timestamp").alias("cstart"),
            (F.col("epoch") + 259200).cast("timestamp").alias("cend"),
        )
    )
    joined = range_join(
        _t(spark, sf_dir, "events").select("event_id", "ts"),
        campaigns,
        "ts",
        "cstart",
        "cend",
    )
    return joined.groupBy("cstart").agg(_count(None))


@register(
    "latest_state_per_user",
    """
    SELECT user_id, ts, event_type, value FROM (
        SELECT user_id, ts, event_type, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def latest_state_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC/SCD1 upsert materialization: latest row per key by (ts, id)
    window — the MERGE-INTO emulation for engines without Delta (compact
    state tables from append-only change streams)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.select("user_id", "ts", "event_type", "value",
                  F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "cube_counts",
    """
    SELECT event_type, CAST(user_id % 2 AS BIGINT) AS user_parity, count(*) AS n
    FROM events
    GROUP BY CUBE(event_type, user_id % 2)
    """,
)
def cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets: all 4 aggregation levels in one pass."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 2).alias("user_parity")
    )
    return ev.cube("event_type", "user_parity").agg(_count(None))


@register(
    "array_functions_probe",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT vec_id,
           CAST(len(v) AS INTEGER) AS dim,
           round(list_max(v), 6) AS vmax,
           round(list_min(v), 6) AS vmin,
           round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), v[1:8]),
                             (a, b) -> a + b), 6) AS head8_sum,
           round(v[1], 6) AS first_el
    FROM e
    """,
)
def array_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface: size/max/min/slice/fold/index — JVM
    higher-order functions, fold order matched to the oracle's sequential
    list_reduce so doubles are bit-identical."""
    e = _embedding_vecs(spark, sf_dir)
    head8 = F.aggregate(
        F.slice(F.col("v"), 1, 8), F.lit(0.0), lambda a, b: a + b
    )
    return e.select(
        "vec_id",
        F.size("v").alias("dim"),
        F.round(F.array_max("v"), 6).alias("vmax"),
        F.round(F.array_min("v"), 6).alias("vmin"),
        F.round(head8, 6).alias("head8_sum"),
        F.round(F.element_at("v", 1), 6).alias("first_el"),
    )


@register(
    "orders_above_avg_price",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    """,
)
def orders_above_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery shape: filter against a global aggregate. The
    aggregate is computed once and broadcast into the predicate (cross-join
    of a 1-row frame), not re-evaluated per row. Comparison against an
    unrounded avg is safe here: sum(integral-cents doubles) is exact, so
    both engines derive the identical threshold."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    avg_row = o.agg(F.avg("o_totalprice").alias("a"))
    return (
        o.crossJoin(F.broadcast(avg_row))
        .where(F.col("o_totalprice") > F.col("a"))
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "having_active_users",
    """
    SELECT user_id, count(*) AS n FROM events
    GROUP BY user_id HAVING count(*) > 70
    """,
)
def having_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING shape: post-aggregation filter."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(_count(None))
        .where(F.col("n") > 70)
    )


@register(
    "value_bucket_histogram",
    """
    SELECT CASE WHEN value < 10 THEN 'low'
                WHEN value < 100 THEN 'mid'
                ELSE 'high' END AS bucket,
           count(*) AS n
    FROM events GROUP BY 1
    """,
)
def value_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-WHEN bucketing histogram."""
    bucket = (
        F.when(F.col("value") < 10, "low")
        .when(F.col("value") < 100, "mid")
        .otherwise("high")
    )
    return (
        _t(spark, sf_dir, "events")
        .groupBy(bucket.alias("bucket"))
        .agg(_count(None))
    )


# ---------------------------------------------------------------------------
# LLM-pipeline curation ops: chunking, vocabulary, profiling
# ---------------------------------------------------------------------------


@register(
    "chunk_documents",
    """
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents
    ), c AS (
        SELECT doc_id,
               CAST(g.i / 24 AS INTEGER) AS chunk_idx,
               array_to_string(toks[g.i + 1 : g.i + 32], ' ') AS chunk_text,
               CAST(len(toks[g.i + 1 : g.i + 32]) AS INTEGER) AS n_chunk_tokens
        FROM t, LATERAL unnest(generate_series(0, greatest(len(toks) - 1, 0), 24)) AS g(i)
    )
    SELECT doc_id, chunk_idx, chunk_text, n_chunk_tokens FROM c
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM context chunking: 32-token windows every 24 tokens per document
    (operators.textanalysis.chunk_tokens)."""
    from .operators.textanalysis import chunk_tokens

    return chunk_tokens(
        _t(spark, sf_dir, "documents"), "text", "doc_id", chunk_size=32, stride=24
    )


@register(
    "top_terms",
    """
    SELECT t AS term, count(*) AS n
    FROM documents, LATERAL unnest(string_split(lower(text), ' ')) AS u(t)
    GROUP BY t ORDER BY n DESC, term LIMIT 50
    """,
)
def top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: explode tokens -> count -> top-50 with term
    tiebreak (the vocab-building primitive)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("term"))
        .groupBy("term")
        .agg(_count(None))
        .orderBy(F.col("n").desc(), F.col("term"))
        .limit(50)
    )


@register(
    "profile_orders",
    """
    SELECT count(*) AS n_rows,
           count(o_custkey) AS nn_o_custkey,
           count(DISTINCT o_custkey) AS nd_o_custkey,
           count(o_orderstatus) AS nn_o_orderstatus,
           count(DISTINCT o_orderstatus) AS nd_o_orderstatus,
           count(o_orderpriority) AS nn_o_orderpriority,
           count(DISTINCT o_orderpriority) AS nd_o_orderpriority
    FROM orders
    """,
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler-style table profile (operators.canonicalize.profile_table):
    row count + per-column non-null/distinct counts in one pass."""
    from .operators.canonicalize import profile_table

    return profile_table(
        _t(spark, sf_dir, "orders"),
        ["o_custkey", "o_orderstatus", "o_orderpriority"],
    )


@register("stratified_sample_docs")
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded stratified sample by language. Rows-only WAIVER: Bernoulli
    draws are Spark-internal RNG; the sampling-fraction contract is
    driver-checked via the oracle-backed stratified_sample_contract twin;
    the reproducible hash-bucket formulation is row-exact verified as
    deterministic_stratified_docs."""
    from .operators.dedup import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    fracs = {"en": 0.5, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0}
    return stratified_sample(docs, "lang", fracs, seed=42).select(
        "doc_id", "lang"
    )


@register(
    "unpivot_daily",
    """
    WITH w AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS click,
               CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase
        FROM events GROUP BY 1
    )
    SELECT day, 'click' AS type, click AS n FROM w
    UNION ALL
    SELECT day, 'purchase' AS type, purchase AS n FROM w
    """,
)
def unpivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (the inverse of A5): wide per-type columns back to long
    (day, type, n) via stack() — one pass, no join."""
    ev = _t(spark, sf_dir, "events")
    wide = (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .pivot("event_type", ["click", "purchase"])
        .count()
        .na.fill(0, ["click", "purchase"])
    )
    return wide.selectExpr(
        "day", "stack(2, 'click', click, 'purchase', purchase) AS (type, n)"
    )


# ---------------------------------------------------------------------------
# Streaming surface under the oracle gate
# ---------------------------------------------------------------------------


@register(
    "streaming_hourly_counts",
    """
    SELECT make_timestamp(CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) * 3600 * 1000000) AS bucket,
           event_type, count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING under the oracle gate: the events parquet is
    consumed as an availableNow file stream, aggregated with watermarked
    tumbling windows into a memory sink, and the drained result must
    hash-match the same SQL run as a batch — Spark's unified-model claim,
    actually checked. Exactly-once via a fresh checkpoint per run. The
    staging/checkpoint dirs and the memory-sink view are torn down before
    returning (bench/conformance loops must not accumulate them); the small
    drained aggregate is re-materialized as a local DataFrame."""
    import os
    import shutil
    import tempfile
    import uuid

    from .streaming.windows import stream_from_directory, tumbling_counts

    # file streams need an explicit schema; take it from the batch reader
    # (footer read, memoized) so the NANOS-vs-MICROS testdata encoding is
    # handled identically to the batch path
    _t(spark, sf_dir, "events")  # pins session conf (nanosAsLong, NTZ-off)
    raw_schema = spark.read.parquet(
        os.path.join(sf_dir, "events.parquet")
    ).schema
    # file streams need a DIRECTORY source; the testdata table is one file,
    # so stage a symlink dir (zero-copy)
    stream_dir = tempfile.mkdtemp(prefix="stream_src_")
    # the target must be ABSOLUTE: a relative symlink target resolves
    # against the SYMLINK's directory (the /tmp staging dir), not the
    # caller's cwd — with a relative sf_dir the link dangles and the file
    # stream silently lists zero files (sf1 gate, r9)
    os.symlink(
        os.path.abspath(os.path.join(sf_dir, "events.parquet")),
        os.path.join(stream_dir, "events.parquet"),
    )
    src = stream_from_directory(spark, stream_dir, raw_schema)
    ts_type = dict(src.dtypes).get("ts")
    if ts_type == "bigint":  # NANOS encoding: same div-1000 as batch
        src = src.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = tumbling_counts(src, "ts", "1 hour", "2 hours", ["event_type"])
    qname = f"stream_hourly_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        sink = spark.table(qname)
        rows, schema = sink.collect(), sink.schema
        # Memory-sink visibility guard: processAllAvailable() has been
        # observed (once, in a 162-query sf1 gate session) to return
        # before the complete-mode sink table exposed its final batch
        # under heavy session load. The retry is GATED on the source
        # actually holding rows (one limit(1) probe of the batch reader,
        # paid only on the empty-read path) so a legitimately empty
        # source returns empty immediately instead of masking itself
        # behind a 10 s stall; when the gate does trip, the drain is
        # logged loudly — it is evidence of the visibility race, and a
        # silent retry would hide how often it fires (ADVICE r09 #4).
        if not rows:
            source_has_rows = bool(
                spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
                .limit(1)
                .count()
            )
            if source_has_rows:
                import time
                import warnings

                warnings.warn(
                    "memory-sink visibility race: processAllAvailable() "
                    "returned before the complete-mode sink exposed its "
                    "final batch; draining again (bounded)",
                    RuntimeWarning,
                    stacklevel=2,
                )
                for _ in range(10):
                    if rows:
                        break
                    time.sleep(1)
                    q.processAllAvailable()
                    rows = spark.table(qname).collect()
    finally:
        q.stop()
        spark.catalog.dropTempView(qname)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(stream_dir, ignore_errors=True)
    return local_df(spark, rows, schema)


@register(
    "sliding_window_counts",
    """
    WITH b AS (
        SELECT min(CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) * 3600) AS lo,
               max(CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) * 3600) AS hi
        FROM events
    ), starts AS (
        SELECT unnest(generate_series(lo - 3600, hi, 3600)) AS s FROM b
    )
    SELECT make_timestamp(s * 1000000) AS bucket, count(*) AS n
    FROM starts JOIN events e
      ON floor(epoch(e.ts)) >= s AND floor(epoch(e.ts)) < s + 7200
    GROUP BY s
    """,
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h window, 1h slide): every event lands in two
    overlapping windows — F.window's slide parameter; oracle reconstructs
    the same windows with a generated start grid + range join."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(_count(None))
        .select(F.col("w.start").alias("bucket"), "n")
    )


# ---------------------------------------------------------------------------
# Dedup clustering, sentiment, quantile bucketing
# ---------------------------------------------------------------------------


@register(
    "neardup_clusters",
    """
    WITH RECURSIVE t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), s AS (
        SELECT DISTINCT doc_id,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
        FROM t, LATERAL unnest(generate_series(1, len(toks) - 2)) AS g(i)
    ), sz AS (
        SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id
    ), pair AS (
        SELECT a.doc_id AS u, b.doc_id AS v, count(*) AS inter
        FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), sim AS (
        SELECT u, v FROM pair
        JOIN sz za ON za.doc_id = u JOIN sz zb ON zb.doc_id = v
        WHERE inter / (za.sz + zb.sz - inter) >= 0.05
    ), edges AS (
        SELECT u, v FROM sim UNION SELECT v, u FROM sim
    ), nodes AS (
        SELECT DISTINCT u AS id FROM edges
    ), reach AS (
        SELECT id AS src, id AS node FROM nodes
        UNION
        SELECT r.src, e.v FROM reach r JOIN edges e ON r.node = e.u
    )
    SELECT src AS id, min(node) AS comp FROM reach GROUP BY src
    """,
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-closure dedup clustering: connected components over the
    exact n-gram-Jaccard near-dup pairs (min-reachable-id as the canonical
    label). Spark: iterative min-label propagation
    (operators.dedup.connected_components); oracle: recursive CTE."""
    from .operators.dedup import connected_components

    pairs = ngram_jaccard_pairs(spark, sf_dir)
    return connected_components(pairs, "doc_a", "doc_b")


@register("neardup_clusters_banded")
def neardup_clusters_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component clustering over the BANDED near-dup pair set
    (MinHash-LSH candidates verified with exact Jaccard) — the
    corpus-scale twin of neardup_clusters, whose pair source is the
    quadratic exact shingle self-join BY ORACLE CONTRACT (the recursive
    CTE recomputes the exact pair set, so that query cannot swap in a
    banded source and is excluded from big-SF soaks alongside
    ngram_jaccard_pairs). This twin exercises the same component operator
    at full scale on the subquadratic pair source a 100 TB dedup actually
    uses. Rows-only WAIVER: the pair set is banding-dependent (recall < 1
    below the banding threshold), so labels aren't SQL-recomputable; the
    component operator is full-oracle verified via neardup_clusters at
    conformance SFs, and the pair source carries its own driver-checked
    contract (minhash_recall_check).

    Growth model (VERDICT r09 next #4, measured in PERF.md r10; the
    harness is removed, see git history): the ~18x sf1->sf10 soak growth
    is PAIR-MASS, not iteration count — verified pairs grew 89.6x for 10x
    docs (pairs/doc 0.041 -> 0.368; avg graph degree 1.25 -> 3.09, max
    6 -> 47) because the synthetic corpus draws near-dup docs from a
    fixed template pool, so group size g scales with the corpus and a
    group contributes ~g^2/2 pairs above the Jaccard threshold. That
    quadratic-in-group-size mass is the OPERATOR'S CONTRACT (every
    >=threshold pair, the set minhash_recall_check certifies), so the
    cost bound is inherent: time ~ O(corpus + true_pair_mass). The
    component stage is NOT the driver — it grew 3.9x on 89.6x more
    pairs (both SFs below the 1M-edge union-find threshold; no
    pointer-jumping switch). At 100 TB the mitigations are upstream of
    this operator: exact-dedup first (collapses identical templates,
    the curation_funnel ordering), or a per-bucket star reduction when
    only connectivity (not the full pair set) is needed — a different
    contract, deliberately not this query's."""
    from .operators.dedup import connected_components, minhash_near_duplicates

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = minhash_near_duplicates(
        docs, "text", "doc_id", threshold=0.05, num_hashes=32, bands=16
    )
    return connected_components(pairs, "id_a", "id_b")


@register(
    "sentiment_scores",
    """
    WITH lex(tok, polarity) AS (VALUES
        ('big', 1), ('dup', -1), ('error', -1), ('fast', 1),
        ('filter', -1), ('slow', -1), ('small', 1), ('value', 1)
    ), t AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
        FROM documents
    )
    SELECT doc_id,
           round(coalesce(avg(polarity), 0.0), 4) AS sentiment,
           count(polarity) AS n_hits
    FROM t LEFT JOIN lex USING (tok)
    GROUP BY doc_id
    """,
)
def sentiment_scores_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-join sentiment scoring (SURVEY §2.12; broadcast lexicon dim
    against exploded tokens)."""
    from .operators.textanalysis import sentiment_scores

    return sentiment_scores(_t(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "ntile_quartiles",
    """
    SELECT o_orderkey,
           ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
    FROM orders
    """,
)
def ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quantile bucketing with a deterministic total order.

    Scale design: `ntile(4) OVER (ORDER BY ...)` with no PARTITION BY forces
    every row into one partition (WindowExec warning). Instead we compute the
    exact global rank distributively — range-repartition on the sort key
    (partition i holds strictly smaller keys than partition i+1), rank locally
    per partition, then add per-partition row-count offsets (a driver-side
    collect bounded by the partition count, not the data). The NTILE bucket is
    then pure arithmetic on (rank, n): the first n%4 buckets take ceil(n/4)
    rows, the rest floor(n/4) — identical to the window-function semantics, so
    the DuckDB oracle still hash-matches.
    """
    df = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # Freeze the partitioning so the range bounds sampled for the offsets
    # pass are the exact partitioning the final pass reuses (bounds are
    # sampled per execution). Eager localCheckpoint, not persist: a
    # persisted frame could be EVICTED between the two passes, and the
    # recompute would re-sample range bounds — silently different _pid
    # values (the spark_partition_id cross-branch pitfall). Checkpoint
    # blocks can't be evicted, release with the RDD (no cache-manager
    # leak — VERDICT r05 #4), and cost the same single materialization;
    # the truncated-lineage executor-loss tradeoff is documented at the
    # other checkpoint sites.
    # Range width follows the session's shuffle partitions (a literal 32
    # would cap a cluster's sort at 32 reducers); the driver-side offsets
    # collect stays bounded by the partition count either way.
    n_range = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    part = (
        df.repartitionByRange(n_range, "o_totalprice", "o_orderkey")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in part.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    n = sum(counts.values())
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_map = F.create_map(
        *[lit for pid, off in offsets.items() for lit in (F.lit(pid), F.lit(off))]
    )
    q, r = divmod(n, 4)
    head = r * (q + 1)  # rows covered by the r larger (ceil-sized) buckets
    local = Window.partitionBy("_pid").orderBy("o_totalprice", "o_orderkey")
    rank = (off_map[F.col("_pid")] + F.row_number().over(local)).alias("_rank")
    bucket = F.when(
        F.col("_rank") <= head, ((F.col("_rank") - 1) / (q + 1)).cast("int") + 1
    )
    if q > 0:
        bucket = bucket.otherwise(
            r + ((F.col("_rank") - head - 1) / q).cast("int") + 1
        )
    return (
        part.select("o_orderkey", rank)
        .select("o_orderkey", bucket.cast("int").alias("quartile"))
    )


# ---------------------------------------------------------------------------
# Classic relational shapes round-out: top-k revenue join, grouping sets,
# correlated per-group comparison, map functions, conditional aggregation
# ---------------------------------------------------------------------------


@register(
    "top_revenue_orders",
    """
    SELECT o_orderkey,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(8,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping-priority query: filtered 3-table join ->
    per-order revenue -> deterministic top-10. The customer dimension is
    filtered then broadcast (only the lineitem<->orders join can shuffle);
    revenue is decimal-exact; the top-k is a TakeOrderedAndProject (no full
    sort at scale)."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    rev = _dec("l_extendedprice", 12, 4) * (F.lit(1) - F.col("l_discount")).cast(
        "decimal(8,4)"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "grouping_sets_counts",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
           CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
           count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond cube/rollup): two independent
    single-column rollups + grand total in ONE pass over the fact table
    (Spark Expand operator — one scan, not three). grouping() flags
    disambiguate real NULLs from set placeholders."""
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
               CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
               count(*) AS n
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """,
        orders=_t(spark, sf_dir, "orders"),
    )


@register(
    "orders_above_customer_avg",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM (
        SELECT o_orderkey, o_custkey, o_totalprice,
               CAST(o_totalprice AS DECIMAL(18,4)) AS p,
               sum(CAST(o_totalprice AS DECIMAL(18,4)))
                   OVER (PARTITION BY o_custkey) AS tot,
               count(*) OVER (PARTITION BY o_custkey) AS n
        FROM orders
    )
    WHERE p * n > 1.5 * tot
    """,
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated comparison (each order vs ITS customer's average) without
    a correlated subquery: one partitioned window pass. The avg comparison
    is multiplied out (p*n > 1.5*tot) so it stays in exact decimal space —
    no division, no float tie-break drift between engines. Scales as one
    shuffle on the (already-grouped-at-scale) customer key."""
    w = Window.partitionBy("o_custkey")
    p = _dec("o_totalprice")
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            (p * F.count(F.lit(1)).over(w)).alias("pn"),
            (F.lit("1.5").cast("decimal(2,1)") * F.sum(p).over(w)).alias("t15"),
        )
        .where(F.col("pn") > F.col("t15"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "map_functions_probe",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_value,
           CAST(len(json_keys(props)) AS INT) AS n_keys
    FROM events
    """,
)
def map_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface (SURVEY §1.3 addition): parse the props JSON column
    into map<string,bigint>, then element_at + map_keys — the typed-metadata
    pattern the multimodal columns use. Oracle reads the same values via
    DuckDB's JSON functions."""
    m = F.from_json("props", "map<string,bigint>")
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.element_at(m, "k").alias("k_value"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


@register(
    "conditional_agg_filter",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchases,
           count(*) FILTER (WHERE event_type = 'error') AS errors,
           count(*) AS total
    FROM events
    GROUP BY 1
    """,
)
def conditional_agg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (SQL FILTER clause): several filtered counts
    in ONE aggregation pass — the idiomatic Spark form is count(when(...)),
    which compiles to the same single HashAggregate (no per-branch scans)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchases"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("errors"),
        _count(None, "total"),
    )


@register(
    "rank_distribution_probe",
    """
    SELECT o_orderkey,
           round(percent_rank() OVER
               (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey), 6) AS pr,
           round(cume_dist() OVER
               (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey), 6) AS cd,
           dense_rank() OVER
               (PARTITION BY o_orderstatus ORDER BY o_orderpriority) AS dr
    FROM orders
    """,
)
def rank_distribution_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic rank family (percent_rank/cume_dist/dense_rank) over a
    3-value partition key. The naive window compiles to ONE TASK PER
    STATUS — three tasks sorting the whole table at any cluster size — so
    this runs operators/analytics.distributed_rank_stats: range-split
    local ranks + broadcast offsets, bit-identical under the total order
    (o_totalprice, o_orderkey) and even-width at every stage. sf10: 25.5 s
    (3-task window) -> ~6 s. The ratios are integer divisions under a
    deterministic total order, so round(…,6) is hash-stable across
    engines."""
    from .operators.analytics import distributed_rank_stats

    out = distributed_rank_stats(
        _t(spark, sf_dir, "orders"),
        "o_orderstatus",
        [F.col("o_totalprice"), F.col("o_orderkey")],
        dense_col="o_orderpriority",
    )
    return out.select("o_orderkey", "pr", "cd", "dr")


@register(
    "argmax_latest_event",
    """
    WITH m AS (
        SELECT user_id,
               max(struct_pack(ts := ts, event_id := event_id,
                               event_type := event_type)) AS s
        FROM events GROUP BY user_id
    )
    SELECT user_id, s.ts AS ts, s.event_id AS event_id,
           s.event_type AS event_type
    FROM m
    """,
)
def argmax_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest event per user as a ONE-PASS struct-max aggregate (argmax) —
    the scale-preferred twin of latest_state_per_user's row_number window:
    partial aggregation combines map-side, so the shuffle carries one row
    per (partition, user) instead of every event. Tie-broken by event_id
    inside the comparison struct; both engines compare structs
    lexicographically by field order."""
    m = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "event_type")).alias("s"))
    )
    return m.select(
        "user_id",
        F.col("s.ts").alias("ts"),
        F.col("s.event_id").alias("event_id"),
        F.col("s.event_type").alias("event_type"),
    )


@register(
    "except_all_user_bags",
    """
    SELECT user_id FROM events WHERE event_type = 'click'
    EXCEPT ALL
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def except_all_user_bags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL multiset semantics (per-key count difference survives,
    unlike distinct EXCEPT) — Spark's exceptAll compiles to an aggregate on
    replicated counts, not a join per duplicate."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id")
    buys = ev.where(F.col("event_type") == "purchase").select("user_id")
    return clicks.exceptAll(buys)


@register(
    "exists_late_lineitems",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
    )
    GROUP BY o_orderpriority
    """,
)
def exists_late_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS with a non-equi correlated predicate (TPC-H Q4
    shape) — compiles to LEFT SEMI join on the equi key with the inequality
    as a join residual, so the probe side streams and no order row
    duplicates regardless of matching-lineitem fan-out. At scale the semi
    join shuffles both sides once on orderkey; the count aggregate then
    partial-aggregates map-side."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    sel = o.join(
        l,
        (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return sel.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@register(
    "null_safe_join_counts",
    """
    WITH e AS (SELECT nullif(event_type, 'error') AS k FROM events),
         d AS (SELECT DISTINCT k FROM e)
    SELECT d.k AS k, count(*) AS cnt
    FROM e JOIN d ON e.k IS NOT DISTINCT FROM d.k
    GROUP BY d.k
    """,
)
def null_safe_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join: Spark `eqNullSafe` (<=>) == SQL
    IS NOT DISTINCT FROM — NULL keys match each other instead of being
    dropped, so the NULL bucket survives the join. Spark hashes <=> keys
    like ordinary equi-keys (NULL gets a partition), so this stays a
    hash join, not a nested-loop."""
    ev = _t(spark, sf_dir, "events").select(
        F.expr("nullif(event_type, 'error')").alias("k")
    )
    dim = ev.distinct().withColumnRenamed("k", "dk")
    return (
        ev.join(dim, ev.k.eqNullSafe(dim.dk))
        .groupBy("dk")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("dk").alias("k"), "cnt")
    )


@register(
    "first_last_window_probe",
    """
    WITH w AS (
        SELECT user_id,
               first_value(event_type) OVER full_win AS first_type,
               last_value(event_type)  OVER full_win AS last_type,
               nth_value(event_type, 2) OVER full_win AS second_type,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
        WINDOW full_win AS (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        )
    )
    SELECT user_id, first_type, last_type, second_type FROM w WHERE rn = 1
    """,
)
def first_last_window_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over an explicit unbounded ROWS
    frame (the frame matters: last_value under the default frame is just the
    current row). Ordering is (ts, event_id) so ties are broken
    deterministically in both engines. One window partition pass serves all
    three functions plus the row_number dedup."""
    full_win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    rn_win = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.first("event_type").over(full_win).alias("first_type"),
            F.last("event_type").over(full_win).alias("last_type"),
            F.nth_value("event_type", 2).over(full_win).alias("second_type"),
            F.row_number().over(rn_win).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "sorted_sources_by_lang",
    """
    SELECT lang,
           array_to_string(list_sort(list(DISTINCT source)), ',') AS sources,
           count(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY lang
    """,
)
def sorted_sources_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-deterministic array aggregation: collect_set is
    arrival-order-nondeterministic in ANY distributed engine, so the only
    hashable form is sort-then-serialize (sort_array + array_join). The
    string form also sidesteps array-vs-list dtype mismatches between
    engines."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.array_join(F.sort_array(F.collect_set("source")), ",").alias(
                "sources"
            ),
            F.countDistinct("source").alias("n_sources"),
        )
    )


@register(
    "range_frame_peak_rate",
    """
    WITH e AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s FROM events
    ),
    w AS (
        SELECT user_id,
               count(*) OVER (
                   PARTITION BY user_id ORDER BY epoch_s
                   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
               ) AS c
        FROM e
    )
    SELECT user_id, max(c) AS peak_1h FROM w GROUP BY user_id
    """,
)
def range_frame_peak_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (value-based) window frame — peak events per trailing hour per
    user. Unlike ROWS frames, RANGE bounds are data values, so ties (peers
    at the same epoch second) enter the frame together in both engines,
    which is exactly what makes count-over-range hash-stable where
    sum-of-float-over-range is not. One shuffle on user_id serves both the
    window and the final max."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-3600, Window.currentRow)
    )
    return (
        _t(spark, sf_dir, "events")
        .select("user_id", F.unix_timestamp("ts").alias("epoch_s"))
        .withColumn("c", F.count("*").over(w))
        .groupBy("user_id")
        .agg(F.max("c").alias("peak_1h"))
    )


@register(
    "stats_moments_by_flag",
    """
    WITH s AS (
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(8,4))) AS DOUBLE) AS sq,
               CAST(sum(CAST(l_quantity AS DECIMAL(8,4)) * CAST(l_quantity AS DECIMAL(8,4))) AS DOUBLE) AS sqq,
               CAST(sum(CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) AS sd,
               CAST(sum(CAST(l_discount AS DECIMAL(8,4)) * CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) AS sdd,
               CAST(sum(CAST(l_quantity AS DECIMAL(8,4)) * CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) AS sqd
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round(sq / n, 6) AS avg_qty,
           round(sqrt((sqq - sq * sq / n) / (n - 1)), 6) AS std_qty,
           round((sqd - sq * sd / n)
                 / sqrt((sqq - sq * sq / n) * (sdd - sd * sd / n)), 6) AS corr_qty_disc
    FROM s
    """,
)
def stats_moments_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (avg / sample stddev / Pearson corr) via EXACT
    decimal moment sums. Built-in stddev/corr use streaming float merges
    whose partial-merge order differs across engines and runs; instead the
    five raw moments are summed in decimal (exact, order-independent,
    < 17 significant digits so the double cast is value-preserving), then
    the statistics are one deterministic double expression — the same
    IEEE754 operation tree in both engines, so even unrounded bits match.
    At scale this is ONE pass over the data (all moments partial-aggregate
    map-side inside the scan stage; the follow-up merge aggregate sees one
    row per (task, flag)); no second data pass, unlike naive
    avg-then-deviation formulations."""
    li = _t(spark, sf_dir, "lineitem")
    # Fixed-point moments, accumulated in two exact integer levels:
    # inputs are 2-decimal (quantities integral), so per-row products run
    # in BIGINT, the PER-TASK partial sums stay in BIGINT (codegen long
    # adds — the decimal accumulator was the query's hot cost: Decimal
    # boxing on every row), and only the per-(task, flag) partials merge
    # in decimal(38,0). spark_partition_id() is constant within a task,
    # so the first aggregate still collapses map-side to one row per
    # (task, flag) — shuffle volume identical to the single-level form;
    # the second (tiny) aggregate adds one negligible exchange. Exactness
    # is structural, not probabilistic: the largest per-task partial
    # (sqq <= rows_per_task x 2500, quantities <= 50) would need ~3.7e15
    # rows in ONE task to overflow a long, while a 128 MB input split
    # holds ~1e6 lineitem rows — nine orders of headroom that no
    # maxPartitionBytes setting can close (2 GB task-input hard limits
    # sit ~2e7 rows). The decimal merge has no row-count ceiling at all.
    # Same output doubles as the single-level decimal form, bit-for-bit
    # (oracle hash verified unchanged at sf0.01/sf0.1).
    qi = F.round(F.col("l_quantity"), 0).cast("bigint")
    di = F.round(F.col("l_discount") * 100, 0).cast("bigint")

    part = li.groupBy(
        F.spark_partition_id().alias("_pid"), "l_returnflag"
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(qi).alias("_sq"),
        F.sum(qi * qi).alias("_sqq"),
        F.sum(di).alias("_sd"),
        F.sum(di * di).alias("_sdd"),
        F.sum(qi * di).alias("_sqd"),
    )

    def m38(c, div):
        return (
            F.sum(F.col(c).cast("decimal(38,0)")) / F.lit(div)
        ).cast("double")

    s = part.groupBy("l_returnflag").agg(
        F.sum("_n").alias("n"),
        m38("_sq", 1).alias("sq"),
        m38("_sqq", 1).alias("sqq"),
        m38("_sd", 100).alias("sd"),
        m38("_sdd", 10_000).alias("sdd"),
        m38("_sqd", 100).alias("sqd"),
    )
    n, sq, sqq, sd, sdd, sqd = [F.col(c) for c in ["n", "sq", "sqq", "sd", "sdd", "sqd"]]
    return s.select(
        "l_returnflag",
        "n",
        F.round(sq / n, 6).alias("avg_qty"),
        F.round(F.sqrt((sqq - sq * sq / n) / (n - 1)), 6).alias("std_qty"),
        F.round(
            (sqd - sq * sd / n) / F.sqrt((sqq - sq * sq / n) * (sdd - sd * sd / n)), 6
        ).alias("corr_qty_disc"),
    )


@register(
    "forward_fill_last_value",
    """
    WITH v AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'purchase' THEN value END AS pv
        FROM events
    ),
    f AS (
        SELECT user_id, event_id, ts,
               last_value(pv IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        FROM v
    ),
    r AS (
        SELECT user_id, filled,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM f
    )
    SELECT user_id,
           CAST(count(filled) AS BIGINT) AS cnt_filled,
           round(max(CASE WHEN rn = 1 THEN filled END), 4) AS last_filled
    FROM r GROUP BY user_id
    """,
)
def forward_fill_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (LOCF gap fill) via last_value IGNORE NULLS over a
    running ROWS frame — the canonical sensor/CDC imputation operator.
    Spark's `F.last(col, ignorenulls=True)` over the same frame is the
    exact twin of SQL `last_value(x IGNORE NULLS)`. The carried value is a
    raw float (never summed), so hashing is fold-order-safe; the per-user
    summary keeps output at one row per user. One shuffle on user_id
    serves both windows and the final aggregate."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wr = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            "ts",
            "event_id",
            F.when(F.col("event_type") == "purchase", F.col("value")).alias("pv"),
        )
        .withColumn("filled", F.last("pv", ignorenulls=True).over(w))
        .withColumn("rn", F.row_number().over(wr))
        .groupBy("user_id")
        .agg(
            F.count("filled").alias("cnt_filled"),
            F.round(F.max(F.when(F.col("rn") == 1, F.col("filled"))), 4).alias(
                "last_filled"
            ),
        )
    )


_NOT_IN_SQL = """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
    FROM orders
    WHERE o_custkey NOT IN (
        SELECT c_custkey FROM customer WHERE c_acctbal < 0
    )
    GROUP BY o_orderpriority
"""


@register("not_in_null_aware_anti", _NOT_IN_SQL)
def not_in_null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN subquery — Spark compiles this to a null-aware anti join
    (BroadcastHashJoin LeftAnti with isNullAwareAntiJoin=true when the
    filtered build side is small, as here: customers with negative
    balance). Same SQL text runs on both engines via the SQL entry point
    (SURVEY.md §3.2). NOT IN, unlike NOT EXISTS, must return zero rows if
    the subquery yields any NULL — the null-aware plan checks that without
    a cross product; with a broadcast build this costs one scan of orders
    and no shuffle at any scale."""
    from .sql_surface import engine_sql

    return engine_sql(spark, sf_dir, _NOT_IN_SQL)


@register(
    "regexp_functions_probe",
    """
    SELECT lang,
           CAST(count(CASE WHEN regexp_matches(text, '[0-9]') THEN 1 END) AS BIGINT)
               AS docs_with_digit,
           CAST(sum(length(regexp_replace(text, '[aeiou]', '', 'g'))) AS BIGINT)
               AS novowel_chars,
           CAST(count(DISTINCT regexp_extract(text, '^([A-Za-z]+)', 1)) AS BIGINT)
               AS n_first_words
    FROM documents GROUP BY lang
    """,
)
def regexp_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar surface: rlike match test, global regexp_replace,
    group-capturing regexp_extract (no match -> '' in both engines).
    Patterns stay in the character-class subset where Java regex and RE2
    agree. All three run inside whole-stage codegen — no UDFs; Spark's
    regexp_replace is global by default, DuckDB needs the 'g' flag."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.when(F.col("text").rlike("[0-9]"), 1)).alias("docs_with_digit"),
        F.sum(F.length(F.regexp_replace("text", "[aeiou]", ""))).alias(
            "novowel_chars"
        ),
        F.countDistinct(F.regexp_extract("text", "^([A-Za-z]+)", 1)).alias(
            "n_first_words"
        ),
    )


@register(
    "posexplode_tokens",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, toks[i] AS tok
    FROM t, generate_series(1, 5) g(i)
    WHERE i <= len(toks) AND doc_id % 25 = 0
    """,
)
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (LATERAL VIEW posexplode) — each doc's first five
    tokens with their ordinal, the building block for positional n-gram and
    attention-window features. Spark's posexplode over a slice()d array is
    one narrow Generate operator (no shuffle, no UDF); the ordinal comes
    from the engine, not a window function, so it's partition-local and
    scales linearly with input."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 25 == 0)
    toks = F.slice(F.split("text", " "), 1, 5)
    return d.select(
        "doc_id", F.posexplode(toks).alias("pos", "tok")
    ).select("doc_id", F.col("pos").cast("int").alias("pos"), "tok")


@register(
    "date_arithmetic_probe",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(max(o_orderdate + INTERVAL 7 DAY) AS TIMESTAMP) AS max_plus7,
           CAST(min(last_day(CAST(o_orderdate AS DATE))) AS TIMESTAMP) AS first_month_end,
           CAST(max(date_diff('day', DATE '2019-01-01', o_orderdate)) AS BIGINT)
               AS max_days_since
    FROM orders GROUP BY date_trunc('month', o_orderdate)
    """,
)
def date_arithmetic_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic surface: interval addition, last_day, day-granular
    date_diff, month truncation. All outputs normalized to TIMESTAMP in
    both engines (DuckDB DATE round-trips through pandas differently than
    datetime.date from Spark). Everything is codegen scalar math on the
    grouping key's month — one HashAggregate, no shuffle beyond it."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("mon")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.max(F.date_add(F.col("o_orderdate").cast("date"), 7))
        .cast("timestamp")
        .alias("max_plus7"),
        F.min(F.last_day(F.col("o_orderdate").cast("date")))
        .cast("timestamp")
        .alias("first_month_end"),
        F.max(F.datediff(F.col("o_orderdate").cast("date"), F.lit("2019-01-01")))
        .cast("long")
        .alias("max_days_since"),
    )


_TREE_WALK_SQL = """
    WITH RECURSIVE walk(k, depth) AS (
        SELECT CAST(1 AS BIGINT) AS k, 0 AS depth
        UNION ALL
        SELECT p.p_partkey AS k, w.depth + 1 AS depth
        FROM walk w
        CROSS JOIN (SELECT 0 AS b UNION ALL SELECT 1) t
        JOIN part p ON p.p_partkey = 2 * w.k + t.b
        WHERE w.depth < 25
    )
    SELECT depth, CAST(count(*) AS BIGINT) AS n FROM walk GROUP BY depth
"""


@register("recursive_cte_tree_walk", _TREE_WALK_SQL)
def recursive_cte_tree_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.x WITH RECURSIVE) — BFS over the implicit
    binary tree p_partkey -> {2k, 2k+1}, counting reachable parts per
    depth. Each iteration is a join of the frontier against the part table;
    Spark executes it as iterated UnionLoop steps, DuckDB as its native
    recursive operator — an iterative-algorithm shape (graph reachability,
    org charts, BOM explosion) that pure relational operators can't
    express in one pass. The child edge is generated by exploding each
    frontier row into its two child keys (CROSS JOIN of a 2-row literal)
    so the recursive step is a pure EQUI-join on p_partkey — the original
    OR-disjunction form (p = 2k OR p = 2k+1) defeats hash-join selection
    and nested-loops the whole part table once per depth level (measured
    534 s at sf1 vs seconds for this form). Frontier stays small relative
    to the table, so each step is a broadcast-able join at scale; depth
    cap bounds runtime.

    Spark's cteRecursionRowLimit safety valve defaults to 1M accumulated
    rows; the walk legitimately touches every part reachable from key 1
    (each key appears at exactly one depth), so the true bound is
    |part| + 1 — at sf10 (2M parts) the default limit aborts the query.
    Raise it to the known bound, derived from the parquet footer count
    (cheap metadata action), rather than an unbounded constant. The limit
    is consulted at EXECUTION time, so a lazily returned frame would need
    the raised limit to outlive this function; instead the walk (whose
    output is one tiny row per depth level) is materialized eagerly under
    the raised limit and the session-global safety valve is restored in a
    finally block — later queries in the same session keep the default
    runaway-recursion guard."""
    from .sql_surface import engine_sql

    n_part = _t(spark, sf_dir, "part").count()
    prior = spark.conf.get("spark.sql.cteRecursionRowLimit", "1000000")
    if n_part + 16 <= int(prior):
        return engine_sql(spark, sf_dir, _TREE_WALK_SQL)
    try:
        spark.conf.set("spark.sql.cteRecursionRowLimit", str(n_part + 16))
        return engine_sql(spark, sf_dir, _TREE_WALK_SQL).localCheckpoint(
            eager=True
        )
    finally:
        spark.conf.set("spark.sql.cteRecursionRowLimit", prior)


@register(
    "mode_event_type_per_user",
    """
    WITH c AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY user_id, event_type
    ),
    r AS (
        SELECT user_id, event_type, cnt,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY cnt DESC, event_type ASC
               ) AS rn
        FROM c
    )
    SELECT user_id, event_type AS mode_type, cnt AS mode_cnt FROM r WHERE rn = 1
    """,
)
def mode_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE aggregate: built-in mode() breaks frequency ties
    arbitrarily in both engines, so the hashable form is count-then-rank
    with an explicit (cnt DESC, value ASC) tie rule. Two hash aggregations
    plus one window, all partitioned on user_id — a single shuffle; the
    heavy count happens before the window so window state is one row per
    (user, type), not per event."""
    c = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("cnt"), F.asc("event_type"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_type"),
            F.col("cnt").alias("mode_cnt"),
        )
    )


@register(
    "decontaminate_ngram_overlap",
    """
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    g AS (
        SELECT doc_id,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
               toks[i+3] || ' ' || toks[i+4] AS sh
        FROM t, generate_series(1, 200) s(i)
        WHERE i + 4 <= len(toks)
    ),
    gd AS (SELECT DISTINCT doc_id, sh FROM g),
    eval_sh AS (SELECT DISTINCT sh FROM gd WHERE doc_id % 97 = 0)
    SELECT gd.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
    FROM gd JOIN eval_sh USING (sh)
    WHERE gd.doc_id % 97 <> 0
    GROUP BY gd.doc_id
    """,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the training-data hygiene op: flag corpus
    documents sharing any 5-gram with a held-out eval set (here the
    doc_id%97 pseudo-benchmark), reporting distinct overlapping shingles
    per contaminated doc. Word 5-grams via one array transform over the
    token windows (linear in tokens: see dedup.token_windows); the eval
    shingle set is small BY DESIGN (held-out benchmarks are fixed-size,
    they do not grow with the corpus), so it broadcasts. The load-bearing order: corpus shingles probe the
    broadcast eval set FIRST, map-side inside the scan stage, and only
    the overlap survivors — a sliver of the corpus — reach the
    de-duplicating shuffle. Distinct-then-filter == filter-then-distinct
    by set algebra, so the answer is unchanged (oracle hash verified),
    but the corpus-wide (doc_id, shingle) distinct + persist the r4 form
    paid (73M cached rows at sf10, and a full corpus shuffle; at 100 TB
    an impossible materialization) is gone entirely. The probe itself is
    HASH-FIRST (r5): the corpus side never materializes its ~1e8 5-gram
    strings — it probes a 5-argument xxhash64 of the token slice (one
    long per gram, no string allocation/garbage in the scan stage)
    against the broadcast eval (hash, shingle) pairs, and only
    hash-survivors build the actual string, which must then equal the
    eval string riding the same broadcast row — so a 64-bit collision
    can only add a FILTERED row, never a counted one, and the result
    stays exact-match to the oracle. Exact oracle; minhash_near_duplicates
    is the probabilistic scale-out twin."""
    from .operators.dedup import token_windows

    d = spread_for_cpu(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.split(F.lower("text"), " ").alias("_toks")
    )
    # one hash per 5-token window (token_windows: the window lambda reads
    # only its own window, so the split never re-runs per gram); windows
    # 1..min(len-4, 200): the 200-gram prefix cap is part of the query
    # contract (mirrors the oracle's generate_series(1, 200) and
    # curation.py's decontam_prefix — bounds the explode at any doc length)
    gram_hash = token_windows(
        F.col("_toks"), 5, lambda ws: F.xxhash64(*ws), limit=200
    )
    gram_str = lambda pos: F.concat_ws(  # noqa: E731 — built for survivors only
        " ", F.slice(F.col("_toks"), pos, 5)
    )
    # eval side: one scan building the (hash, shingle) pairs — held-out
    # benchmarks are fixed-size, so the pair table broadcasts at any corpus
    # scale; distinct keeps one row per eval shingle
    eval_pairs = (
        d.where(F.col("doc_id") % 97 == 0)
        .select("_toks", F.posexplode(gram_hash).alias("_p", "h"))
        .select("h", gram_str(F.col("_p") + 1).alias("sh"))
        .distinct()
    )
    return (
        d.where(F.col("doc_id") % 97 != 0)
        .select("doc_id", "_toks", F.posexplode(gram_hash).alias("_p", "h"))
        .join(F.broadcast(eval_pairs), "h")
        # string equality verifies the hash match; collisions die here
        .where(gram_str(F.col("_p") + 1) == F.col("sh"))
        .select("doc_id", "sh")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


@register(
    "bool_argmax_agg_probe",
    """
    SELECT event_type,
           bool_and(value > 0) AS all_pos,
           bool_or(value > 100) AS any_big,
           CAST(count(DISTINCT CASE WHEN value > 50 THEN user_id END) AS BIGINT)
               AS big_spenders,
           arg_max(user_id, event_id) AS last_user,
           arg_min(user_id, event_id) AS first_user
    FROM events GROUP BY event_type
    """,
)
def bool_argmax_agg_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (every/any) and arg_max/arg_min (max_by/min_by)
    keyed on the UNIQUE event_id — uniqueness is what makes argmax
    hash-deterministic; on a tie-able key both engines pick arbitrarily.
    Plus a filtered distinct count. All partial-aggregate map-side in one
    HashAggregate pass except the distinct, which Spark expands to a
    two-phase distinct aggregate on the same shuffle."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.bool_and(F.col("value") > 0).alias("all_pos"),
        F.bool_or(F.col("value") > 100).alias("any_big"),
        F.countDistinct(
            F.when(F.col("value") > 50, F.col("user_id"))
        ).alias("big_spenders"),
        F.max_by("user_id", "event_id").alias("last_user"),
        F.min_by("user_id", "event_id").alias("first_user"),
    )


@register(
    "cumulative_daily_revenue",
    """
    WITH d AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
               sum(CAST(o_totalprice AS DECIMAL(18,4))) AS day_dec
        FROM orders GROUP BY 1
    )
    SELECT day,
           CAST(round(day_dec, 2) AS DOUBLE) AS day_total,
           CAST(round(sum(day_dec) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS DOUBLE) AS cum_total
    FROM d
    """,
)
def cumulative_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running cumulative total — the dashboard staple. The heavy
    aggregation happens FIRST (one shuffle, partial map-side), so the
    unpartitioned running-sum window sees only ~one row per day; that's
    the scale rule for global windows: never window the fact table, window
    the aggregate. The per-day sum uses the integer-partial/decimal-merge
    pattern (see stats_moments_by_flag): 2-decimal prices become cents in
    BIGINT, per-(task, day) partials are codegen long adds (bounded:
    <= 2e7 rows/task x 5e7 cents ~ 1e15, 9000x inside long range), and
    the decimal(38,0) merge has no ceiling. The running window then sums
    ~one exact decimal per day (exact at any order), rounded in decimal
    space before the double cast — value-identical to the oracle's
    all-decimal form."""
    ci = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    part = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.spark_partition_id().alias("_pid"),
            F.date_trunc("day", "o_orderdate").alias("day"),
        )
        .agg(F.sum(ci).alias("_sc"))
    )
    d = part.groupBy("day").agg(
        (F.sum(F.col("_sc").cast("decimal(38,0)")) / F.lit(100)).alias(
            "day_dec"
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return d.select(
        "day",
        F.round("day_dec", 2).cast("double").alias("day_total"),
        F.round(F.sum("day_dec").over(w), 2).cast("double").alias("cum_total"),
    )


_LATERAL_SQL = """
    WITH segs AS (SELECT DISTINCT c_mktsegment FROM customer)
    SELECT s.c_mktsegment, l.c_custkey, l.c_acctbal
    FROM segs s, LATERAL (
        SELECT c_custkey, c_acctbal FROM customer c
        WHERE c.c_mktsegment = s.c_mktsegment
        ORDER BY c_acctbal DESC, c_custkey LIMIT 2
    ) l
"""


@register("lateral_top2_per_segment", _LATERAL_SQL)
def lateral_top2_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-group ORDER BY ... LIMIT —
    the SQL-standard spelling of top-k-per-group. Spark 4 plans the
    correlated limit as a DomainJoin rewritten into a ranked window, so it
    executes as one shuffle on the correlation key, same physical shape as
    top3_per_status's explicit row_number — two spellings, one plan. The
    tiebreak on c_custkey makes the k-th row deterministic; c_acctbal is
    carried, never folded, so float hashing is safe."""
    from .sql_surface import engine_sql

    return engine_sql(spark, sf_dir, _LATERAL_SQL)


@register(
    "fuzzy_brand_distance",
    """
    SELECT levenshtein(p_brand, 'Brand#11') AS dist,
           CAST(count(*) AS BIGINT) AS cnt,
           min(p_brand) AS sample_brand
    FROM part GROUP BY 1
    """,
)
def fuzzy_brand_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance (Levenshtein) scalar — the fuzzy-match primitive for
    entity resolution and near-dup candidate scoring. Grouping by the
    distance histograms the whole column in one codegen pass; at corpus
    scale the same scalar feeds a blocked similarity join (compare within
    LSH/blocking buckets, never all-pairs)."""
    p = _t(spark, sf_dir, "part")
    return (
        p.select(F.levenshtein("p_brand", F.lit("Brand#11")).alias("dist"), "p_brand")
        .groupBy("dist")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("p_brand").alias("sample_brand"))
    )


@register(
    "pivot_multi_agg",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click_cnt,
           round(min(value) FILTER (event_type = 'click'), 4) AS click_minv,
           CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase_cnt,
           round(min(value) FILTER (event_type = 'purchase'), 4) AS purchase_minv,
           CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view_cnt,
           round(min(value) FILTER (event_type = 'view'), 4) AS view_minv
    FROM events GROUP BY 1
    """,
)
def pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with MULTIPLE aggregates per spread value (count + min) —
    Spark names pivot output {value}_{alias}, matched here by explicit
    FILTER columns in the oracle. Explicit pivot values skip the
    distinct-values pre-scan (SURVEY.md §4.1) and pin column order; min is
    order-independent so the float is hash-safe where sum would not be.
    Still one HashAggregate: pivot compiles to conditional aggregates,
    not a join."""
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", ["click", "purchase", "view"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.min("value"), 4).alias("minv"),
        )
    )
    # pivot leaves count columns nullable-null for absent combos; count
    # semantics in the FILTER oracle yield 0 — align
    for t in ["click", "purchase", "view"]:
        out = out.withColumn(f"{t}_cnt", F.coalesce(F.col(f"{t}_cnt"), F.lit(0)))
    return out


@register(
    "pii_redaction_rollup",
    r"""
    WITH r AS (
        SELECT c_name,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(c_name,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                     '\+?[0-9]{1,3}[-. (]{0,2}[0-9]{3}[-. )]{0,2}[0-9]{3}[-. ]?[0-9]{4}', '[PHONE]', 'g'),
                   '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '[IP]', 'g'),
                 '[0-9]{4,}', '[NUM]', 'g') AS redacted
        FROM customer
    )
    SELECT redacted, CAST(count(*) AS BIGINT) AS cnt,
           CAST(count(DISTINCT c_name) AS BIGINT) AS n_raw
    FROM r GROUP BY redacted
    """,
)
def pii_redaction_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (operators/textanalysis.redact_pii) applied to customer
    names: every Customer#<9 digits> collapses to one [NUM]-masked form,
    proving the email->phone->IP->digit-run replace chain behaves
    identically in both engines (semantics unit-tested on real-looking
    PII in test_redact_pii_semantics). The chain is stacked codegen
    regexp_replace — scan-local at any scale."""
    from .operators.textanalysis import redact_pii

    c = _t(spark, sf_dir, "customer")
    return (
        c.select("c_name", redact_pii("c_name").alias("redacted"))
        .groupBy("redacted")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("c_name").alias("n_raw"),
        )
    )


@register("embedding_clusters")
def embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-based curation head: seeded KMeans over the embeddings table
    (operators/mlpipeline.cluster_embeddings), reporting cluster sizes.
    Rows-only WAIVER: KMeans centroids aren't SQL-expressible; the
    assignment-totals/k-bound contract is driver-checked via the
    oracle-backed embedding_clusters_contract twin, and same-seed
    determinism is covered by the reproducibility test."""
    from .operators.mlpipeline import cluster_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    return (
        cluster_embeddings(emb, k=8)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Derived-contract twins: put the approx-vs-exact relationship itself under
# the driver's oracle gate. Each approximate operator keeps its real output
# registered rows-only (the useful result), while its twin here emits
# SQL-recomputable ground truths (hash-checked hard) plus booleans asserting
# the accuracy contract — a recall/precision regression flips a boolean and
# fails the hash, so the driver's CORRECTNESS artifact carries a green row
# for the approximate path too.
# ---------------------------------------------------------------------------


@register(
    "lsh_recall_check",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_queries, 5 AS k, TRUE AS recall_ge_09
    FROM embeddings WHERE vec_id % {_ANN_STEP_SQL} = 0
    """,
)
def lsh_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN recall vs the brute-force exact top-k (both
    computed in Spark; the exact side is itself oracle-verified as
    embedding_cosine_topk). n_queries is recomputed by the oracle from the
    query-set predicate. With multiprobe=1 the measured recall is 1.0 at
    sf0.001 and sf0.01, so the contract tightens to >= 0.9 (margin for
    geometry drift); plain-probe pytest keeps its own looser bound.

    Both sides are cached across the three consuming actions (total,
    hit join, distinct-query count) — without the cache the brute-force
    exact top-k (the expensive side, |Q|x|N| dot products) re-executes
    per action, tripling the cost at soak SFs."""
    exact = embedding_cosine_topk(spark, sf_dir).select("q_id", "c_id")
    approx = lsh_ann_topk_query(spark, sf_dir).select("q_id", "c_id")
    with cached(exact), cached(approx):
        total = exact.count()
        hits = exact.join(approx, ["q_id", "c_id"]).count()
        n_queries = exact.select("q_id").distinct().count()
    return local_df(spark, 
        [(n_queries, 5, hits / total >= 0.9)],
        "n_queries bigint, k int, recall_ge_09 boolean",
    )


@register(
    "ivf_recall_check",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_queries, 5 AS k, TRUE AS recall_ge_07
    FROM embeddings WHERE vec_id % {_ANN_STEP_SQL} = 0
    """,
)
def ivf_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN recall vs the brute-force exact top-k — same derived contract
    as lsh_recall_check (measured 0.68-0.74 at the conformance SFs for
    isotropic embeddings; n_probe=8/16 measures 0.80-0.86 across
    sf0.001-sf0.1 at no join cost — probes fan out query-side only;
    contracted at >= 0.7). Both sides cached across the three
    consuming actions, as in lsh_recall_check."""
    exact = embedding_cosine_topk(spark, sf_dir).select("q_id", "c_id")
    approx = ivf_ann_topk_query(spark, sf_dir).select("q_id", "c_id")
    with cached(exact), cached(approx):
        total = exact.count()
        hits = exact.join(approx, ["q_id", "c_id"]).count()
        n_queries = exact.select("q_id").distinct().count()
    return local_df(spark, 
        [(n_queries, 5, hits / total >= 0.7)],
        "n_queries bigint, k int, recall_ge_07 boolean",
    )


@register(
    "minhash_recall_check",
    f"""
    WITH ex AS ({_ORACLE["ngram_jaccard_pairs"]})
    SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
           CAST(count(*) FILTER (WHERE jaccard >= 0.15) AS BIGINT)
               AS n_exact_hi_pairs,
           TRUE AS subset_of_exact,
           TRUE AS hi_recall_ge_09
    FROM ex
    """,
)
def minhash_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup vs the exact n-gram Jaccard pair set (the exact
    side is oracle-verified as ngram_jaccard_pairs; its SQL is inlined here
    so the oracle recomputes both ground-truth pair counts). subset_of_exact
    checks the verify step's precision=1 guarantee (every reported pair
    truly has Jaccard >= threshold). Recall is contracted over HIGH-
    similarity pairs (Jaccard >= 0.15): banding theory only promises
    recalling sufficiently-similar pairs — at (32 hashes, 16 bands) the
    candidate probability for a pair at the 0.05 threshold boundary is low
    by design, while measured recall at >= 0.15 is 1.0 at sf0.01 and sf0.1.
    Matches the pytest contract (full recall of >= 0.5-Jaccard pairs)."""
    from .operators.dedup import minhash_near_duplicates

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # Both comparison frames are consumed by several counting actions;
    # without materializing them, the quadratic exact join re-executes
    # once per action (4x) and the LSH pipeline 3x — at sf1 that turned a
    # ~75 s check into 445 s. The LSH pairs come back checkpointed and
    # the exact pairs are cached: the small RESULT pair lists, not the
    # quadratic intermediates.
    approx = (
        minhash_near_duplicates(
            docs, "text", "doc_id", threshold=0.05, num_hashes=32, bands=16
        )
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    )
    with cached(
        ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b", "jaccard")
    ) as exact:
        exact_hi = exact.where(F.col("jaccard") >= 0.15).select(
            "doc_a", "doc_b"
        )
        n_exact = exact.count()
        n_hi = exact_hi.count()
        n_approx = approx.count()
        hits_all = approx.join(
            exact.select("doc_a", "doc_b"), ["doc_a", "doc_b"]
        ).count()
        hits_hi = approx.join(exact_hi, ["doc_a", "doc_b"]).count()
    return local_df(spark, 
        [(n_exact, n_hi, hits_all == n_approx, hits_hi / max(n_hi, 1) >= 0.9)],
        "n_exact_pairs bigint, n_exact_hi_pairs bigint, "
        "subset_of_exact boolean, hi_recall_ge_09 boolean",
    )


@register(
    "stratified_sample_contract",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_total, TRUE AS frac_ok
    FROM documents GROUP BY lang
    """,
)
def stratified_sample_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded stratified sampling contract: per-stratum totals are
    recomputed exactly by the oracle; frac_ok asserts the realized sampling
    fraction sits within Bernoulli tolerance of the requested fraction
    (exact-1.0 strata must be complete; the 0.5 stratum within +/-0.2)."""
    from .operators.dedup import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    fracs = {"en": 0.5, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0}
    sampled = stratified_sample(docs, "lang", fracs, seed=42)
    tot = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(_count(None)).collect()
    }
    smp = {
        r["lang"]: r["n"]
        for r in sampled.groupBy("lang").agg(_count(None)).collect()
    }
    rows = []
    for lang in sorted(tot):
        realized = smp.get(lang, 0) / tot[lang]
        tol = 0.2 if fracs[lang] < 1.0 else 0.0
        rows.append((lang, tot[lang], abs(realized - fracs[lang]) <= tol))
    return local_df(spark, 
        rows, "lang string, n_total bigint, frac_ok boolean"
    )


@register(
    "embedding_clusters_contract",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_points, TRUE AS k_le_8
    FROM embeddings
    """,
)
def embedding_clusters_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded-KMeans clustering contract: every vector is assigned to
    exactly one cluster (sum of cluster sizes is hash-checked against the
    oracle's table count) and at most k clusters exist. Centroid positions
    stay rows-only (not SQL-expressible); same-seed determinism is covered
    by pytest."""
    from .operators.mlpipeline import cluster_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    sizes = (
        cluster_embeddings(emb, k=8)
        .groupBy("cluster")
        .agg(_count(None))
        .collect()
    )
    n_points = sum(r["n"] for r in sizes)
    return local_df(spark, 
        [(n_points, len(sizes) <= 8)], "n_points bigint, k_le_8 boolean"
    )


# ---------------------------------------------------------------------------
# Training-export curation round-out: repetition quality filter, cluster
# representative selection, sequence packing, deterministic sharding
# ---------------------------------------------------------------------------


@register(
    "repetition_filter",
    """
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), g AS (
        SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
        FROM t, LATERAL unnest(generate_series(1, len(toks) - 2)) AS u(i)
    ), agg AS (
        SELECT doc_id, count(*) AS total, count(DISTINCT sh) AS dist
        FROM g GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(round(1 - dist / CAST(total AS DOUBLE), 6), 0.0)
               AS rep_ratio,
           coalesce(round(1 - dist / CAST(total AS DOUBLE), 6), 0.0) <= 0.2
               AS keep
    FROM t LEFT JOIN agg ON agg.doc_id = t.doc_id
    """,
)
def repetition_filter_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style intra-document repetition filter: repeated word-3-gram
    fraction per document, keep decision on the rounded ratio. Zero-shuffle
    linear scan (operators.textanalysis.repetition_filter)."""
    from .operators.textanalysis import repetition_filter

    return repetition_filter(
        spread_for_cpu(_t(spark, sf_dir, "documents")),
        "text",
        "doc_id",
        n=3,
        max_ratio=0.2,
    )


@register(
    "neardup_representatives",
    f"""
    WITH comp AS ({_ORACLE["neardup_clusters"]}),
    m AS (
        SELECT c.comp, c.id, d.n_chars
        FROM comp c JOIN documents d ON d.doc_id = c.id
    ), r AS (
        SELECT comp, id,
               row_number() OVER (
                   PARTITION BY comp ORDER BY n_chars DESC, id
               ) AS rn,
               count(*) OVER (PARTITION BY comp) AS n
        FROM m
    )
    SELECT comp AS cluster, id AS rep_doc_id, CAST(n AS BIGINT) AS n_members
    FROM r WHERE rn = 1
    """,
)
def neardup_representatives_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-longest representative per near-dup cluster (the step that turns
    clustering into a dedup'd corpus): max_by on (n_chars, -id) per
    component — map-side-combinable aggregation, no windows
    (operators.dedup.cluster_representatives). Oracle re-derives the
    clusters with the recursive CTE and ranks members in SQL. Inherits
    neardup_clusters' exact quadratic pair source, so it is soak-excluded
    with the banded scale twin neardup_clusters_banded."""
    from .operators.dedup import cluster_representatives

    comps = neardup_clusters(spark, sf_dir)
    return cluster_representatives(
        comps, _t(spark, sf_dir, "documents"), "doc_id", "n_chars"
    )


@register(
    "sequence_packing",
    """
    WITH d AS (
        SELECT doc_id, lang,
               CAST(floor(doc_id / 1000) AS BIGINT) AS shard,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    )
    SELECT doc_id, lang, shard, n_tok,
           CAST(floor(
               (sum(n_tok) OVER (
                    PARTITION BY lang, shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) - n_tok) / 512.0
           ) AS BIGINT) AS bin
    FROM d
    """,
)
def sequence_packing_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing into ~512-token bins per
    (lang, shard) — deterministic training-shard materialization; the
    window partition is bounded by shard size regardless of strata skew
    (operators.mlpipeline.pack_sequences)."""
    from .operators.mlpipeline import pack_sequences

    return pack_sequences(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        "lang",
        budget_tokens=512,
        shard_size=1000,
    )


@register(
    "shard_assignment_counts",
    """
    SELECT (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 8
           ) AS shard,
           CAST(count(*) AS BIGINT) AS n
    FROM documents GROUP BY 1
    """,
)
def shard_assignment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-based shard assignment (engine-portable, unlike
    xxhash64/crc32; near-uniform via the 16-bit md5 prefix) with per-shard
    counts — verifies bit-identical md5 hex across engines
    (operators.mlpipeline.shard_assign)."""
    from .operators.mlpipeline import shard_assign

    return (
        shard_assign(_t(spark, sf_dir, "documents"), "doc_id", 8)
        .groupBy("shard")
        .agg(_count(None))
    )


@register(
    "time_grain_rollup",
    """
    SELECT 'hour' AS grain, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 2
    UNION ALL
    SELECT 'day', CAST(date_trunc('day', ts) AS TIMESTAMP), CAST(count(*) AS BIGINT)
    FROM events GROUP BY 2
    UNION ALL
    SELECT 'month', CAST(date_trunc('month', ts) AS TIMESTAMP), CAST(count(*) AS BIGINT)
    FROM events GROUP BY 2
    """,
)
def time_grain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time rollup (the hypertable continuous-aggregate
    analogue): hourly, daily, and monthly event counts in ONE scan via
    GROUPING SETS — Spark lowers it to a single Expand + partial/final
    HashAggregate, so the fact table is read once for all three grains
    (the naive 3-query UNION reads it three times). The oracle is the
    equivalent UNION for clarity; results are identical."""
    return spark.sql(
        """
        SELECT CASE
                 WHEN h IS NOT NULL THEN 'hour'
                 WHEN d IS NOT NULL THEN 'day'
                 ELSE 'month'
               END AS grain,
               coalesce(h, d, m) AS bucket,
               count(*) AS n
        FROM (
            SELECT date_trunc('hour', ts) AS h, date_trunc('day', ts) AS d,
                   date_trunc('month', ts) AS m
            FROM {events}
        )
        GROUP BY GROUPING SETS ((h), (d), (m))
        """,
        events=_t(spark, sf_dir, "events"),
    )


@register(
    "upsert_orders_snapshot",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END
               AS o_orderstatus,
           CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    """,
)
def upsert_orders_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins MERGE/upsert (operators.canonicalize.upsert_snapshot):
    a keyed update batch (every 7th order re-priced and re-statused)
    replaces matching snapshot rows, everything else passes through — the
    copy-on-write plan a Delta/Iceberg MERGE lowers to. The oracle derives
    the same final state with a CASE, so the anti-join ∪ updates plan is
    hash-checked row-for-row."""
    from .operators.canonicalize import upsert_snapshot

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = (
        orders.where(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000)
    )
    return upsert_snapshot(orders, updates, ["o_orderkey"])


@register(
    "scd2_user_state",
    """
    WITH marked AS (
        SELECT user_id, ts, event_type, event_id,
               CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                    THEN 1 ELSE 0 END AS new_run
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
        SELECT *, sum(new_run) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS run FROM marked
    ), collapsed AS (
        SELECT user_id, run, event_type,
               min(ts) AS valid_from,
               CAST(count(*) AS BIGINT) AS n_events
        FROM runs GROUP BY user_id, run, event_type
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (
               PARTITION BY user_id ORDER BY valid_from
           ) AS valid_to,
           n_events
    FROM collapsed
    """,
)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build (operators.temporal_joins.scd2_intervals):
    each user's event stream collapsed into consecutive-state validity
    intervals (valid_from/valid_to, NULL = current) — the
    gaps-and-islands warehouse pattern, windows partitioned by user only."""
    from .operators.temporal_joins import scd2_intervals

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    return scd2_intervals(ev, "user_id", "ts", "event_type", "event_id")


@register(
    "snapshot_diff_orders",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 11 = 0 THEN 'delete'
                WHEN o_orderkey % 7 = 0 THEN 'update'
           END AS change_type
    FROM orders
    WHERE o_orderkey % 11 = 0 OR o_orderkey % 7 = 0
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture diff (operators.canonicalize.snapshot_diff):
    the 'new' snapshot drops every 11th order and re-prices every 7th;
    the diff must report exactly those keys as delete/update (deletes win
    where both apply since the row is gone) and nothing else. One
    full-outer join on the key with md5-row fingerprints; the oracle
    derives the expected change set arithmetically."""
    from .operators.canonicalize import snapshot_diff

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = (
        orders.where(F.col("o_orderkey") % 11 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1000
            ).otherwise(F.col("o_totalprice")),
        )
    )
    return snapshot_diff(orders, new, ["o_orderkey"])


@register(
    "asof_join_tolerance",
    """
    WITH p AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    ), s AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'signup'
    ), j AS (
        SELECT p.user_id, p.ts, p.event_id, s.value AS r_value, s.ts AS s_ts
        FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
    )
    SELECT user_id, ts, event_id,
           CASE WHEN epoch(ts) - epoch(s_ts) <= 172800 THEN r_value END
               AS r_value
    FROM j
    """,
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a 48h tolerance: a matched signup older than the
    tolerance is nulled rather than carried — the staleness guard real
    point-in-time feature lookups need. Oracle: DuckDB native ASOF +
    epoch-difference CASE."""
    from .operators.temporal_joins import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        purchases, signups, "user_id", "ts", "ts", ["value"],
        tolerance_seconds=172_800,
    )


@register(
    "salted_join_revenue",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
               AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderpriority
    """,
)
def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-salting operator under the oracle gate: the orders fact is
    salted over 8 sub-keys and the (filtered) customer dim replicated per
    salt, then joined and aggregated — results must be row-identical to the
    plain join the oracle runs. Decimal-space sum for hash stability."""
    from .operators.timeseries import salted_join

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderpriority", "o_totalprice"
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    joined = salted_join(orders, cust, "c_custkey", n_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        _count(None),
        F.round(F.sum(_dec("o_totalprice", 18, 4)), 2)
        .cast("double")
        .alias("revenue"),
    )


@register(
    "quality_expectations_orders",
    """
    WITH m AS (
        SELECT CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS nullkeys,
               CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS DOUBLE) AS dupkeys,
               CAST(min(o_totalprice) AS DOUBLE) AS minprice,
               CAST(sum(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS DOUBLE) AS badstatus
        FROM orders
    )
    SELECT 'orderkey_not_null' AS check, nullkeys AS metric, nullkeys = 0 AS passed FROM m
    UNION ALL
    SELECT 'orderkey_unique', dupkeys, dupkeys = 0 FROM m
    UNION ALL
    SELECT 'price_nonnegative', minprice, minprice >= 0.0 FROM m
    UNION ALL
    SELECT 'status_in_set', badstatus, badstatus = 0 FROM m
    """,
)
def quality_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (Deequ-style) over orders:
    N checks lower to conditional aggregates in ONE pass + a stack() —
    one job regardless of rule count
    (operators.canonicalize.quality_expectations)."""
    from .operators.canonicalize import quality_expectations

    return quality_expectations(
        _t(spark, sf_dir, "orders"),
        [
            {"name": "orderkey_not_null", "not_null": "o_orderkey"},
            {"name": "orderkey_unique", "unique": "o_orderkey"},
            {"name": "price_nonnegative", "min": "o_totalprice", "value": 0},
            {
                "name": "status_in_set",
                "in_set": "o_orderstatus",
                "values": ["F", "O", "P"],
            },
        ],
    )


@register("simhash_near_duplicates")
def simhash_near_duplicates_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pipeline end-to-end: pigeonhole chunk banding ->
    candidate equi-join -> exact popcount verify (Hamming <= 8 over 64-bit
    fingerprints; the loose bound surfaces textually-similar pairs in the
    synthetic corpus). Rows-only WAIVER: fingerprints are Spark-xxhash64-
    derived (not SQL-reproducible); the identical banded pipeline over the
    portable md5 hash is verified against an exact all-pairs oracle as
    simhash_portable_neardups, and banding completeness (every pair within
    chunks-1 distance shares a chunk) and determinism are pytest-covered."""
    from .operators.dedup import simhash_near_duplicates

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash_near_duplicates(
        docs, "text", "doc_id", max_hamming=8, chunks=4,
        allow_incomplete=True,  # deliberate banding-recall mode (ham 8 > chunks-1)
    )


@register(
    "nation_pair_revenue",
    """
    SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                          * CAST(1 - l_discount AS DECIMAL(8,4))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN supplier ON l_suppkey  = s_suppkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE n1.n_name < n2.n_name
    GROUP BY 1, 2
    """,
)
def nation_pair_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped volume-shipping query: revenue between ordered
    (customer-nation, supplier-nation) pairs through the full 6-table join
    graph. Every dimension (customer/supplier/nation x2) broadcasts; the
    only real shuffle is lineitem->orders. Decimal-space revenue for hash
    stability."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    rev = _dec("l_extendedprice", 12, 4) * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(8,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .where(F.col("cust_nation") < F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            _count(None, "n_items"),
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
        )
    )


@register(
    "order_count_distribution",
    """
    WITH per_cust AS (
        SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey
    )
    SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
    FROM per_cust GROUP BY n_orders
    """,
)
def order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped customer distribution: LEFT join preserves
    zero-order customers (count(o_orderkey) ignores the null-extended
    rows), then a second tiny aggregation histograms customers by order
    count. Two aggregations, one fact shuffle."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(_count(None, "n_customers"))


@register(
    "dormant_rich_customers",
    """
    WITH avg_bal AS (
        SELECT avg(c_acctbal) AS v FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE)
               AS total_bal
    FROM customer, avg_bal
    WHERE c_acctbal > v
      AND c_custkey NOT IN (
          SELECT o_custkey FROM orders WHERE o_totalprice > 400000
      )
    GROUP BY 1
    """,
)
def dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped query: above-average-balance customers with NO
    big-ticket order, counted per nation — scalar-subquery threshold
    (broadcast single row) + anti join + aggregation. o_custkey is a
    non-null FK so the plain left_anti matches the oracle's NOT IN (the
    null-aware variant is exercised by not_in_null_aware_anti). The anti
    join's subquery is pre-filtered so only big-order custkeys shuffle;
    balances sum in decimal space for hash stability."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    avg_bal = (
        cust.where(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("v"))
    )
    big_orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 400000)
        .select("o_custkey")
    )
    rich = cust.join(F.broadcast(avg_bal)).where(F.col("c_acctbal") > F.col("v"))
    dormant = rich.join(
        big_orders, rich.c_custkey == big_orders.o_custkey, "left_anti"
    )
    return dormant.groupBy("c_nationkey").agg(
        _count(None, "n_cust"),
        F.round(F.sum(_dec("c_acctbal", 12, 2)), 2)
        .cast("double")
        .alias("total_bal"),
    )


@register(
    "top_supplier_revenue",
    """
    WITH rev AS (
        SELECT l_suppkey,
               sum(CAST(l_extendedprice AS DECIMAL(12,4))
                   * CAST(1 - l_discount AS DECIMAL(8,4))) AS r
        FROM lineitem GROUP BY 1
    )
    SELECT s_suppkey, s_name,
           CAST(round(r, 2) AS DOUBLE) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE r = (SELECT max(r) FROM rev)
    """,
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped top-supplier query: per-supplier revenue, then keep
    the supplier(s) whose revenue equals the global max — aggregate ->
    scalar subquery over the SAME aggregate -> equality filter. The max is
    a one-row broadcast; the winner set (~1 row) broadcasts into the
    supplier dim join, so supplier never shuffles. `rev` feeds BOTH the
    max and the filter, so it is materialized once via an eager
    localCheckpoint — without it the whole lineitem scan + aggregation
    subtree evaluates once per consumer (the q2/r03 defect; measured
    21.9 s -> ~7 s at sf10). localCheckpoint (one row/supplier, tiny)
    rather than persist() so the blocks are GC-released with the
    DataFrame instead of accumulating cache entries in long-lived
    sessions (ADVICE r04). Revenue is exact
    fixed-point (see q1_pricing_summary: per-row cents x hundredths in
    BIGINT, supplier sums in decimal(38,0)), so the max-equality
    tie-break is engine-independent and bit-exact vs the oracle's
    decimal formulation."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    pi = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    di = F.round((F.lit(1) - F.col("l_discount")) * 100, 0).cast("bigint")
    rev = li.groupBy("l_suppkey").agg(
        (F.sum((pi * di).cast("decimal(38,0)")) / F.lit(10_000)).alias("r")
    ).localCheckpoint(eager=True)
    max_r = rev.agg(F.max("r").alias("max_r"))
    top = rev.join(F.broadcast(max_r)).where(F.col("r") == F.col("max_r"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return supp.join(
        F.broadcast(top), supp.s_suppkey == top.l_suppkey
    ).select(
        "s_suppkey",
        "s_name",
        F.round(F.col("r"), 2).cast("double").alias("total_revenue"),
    )


@register(
    "large_quantity_orders",
    """
    SELECT o_custkey, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS total_price,
           CAST(tot_qty AS DOUBLE) AS tot_qty
    FROM orders JOIN (
        SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS tot_qty
        FROM lineitem GROUP BY 1
        HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 150
    ) big ON o_orderkey = big.l_orderkey
    """,
)
def large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-order query: join against a grouped-HAVING
    subquery. The lineitem aggregation reduces ~4 lines/order to one row
    BEFORE the join, and the HAVING prunes further, so the orders join sees
    only qualifying keys — the semi-join-through-aggregation shape that
    makes Q18 scale. Quantities sum in decimal for hash stability."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity", 12, 2)).alias("tot_qty"))
        .where(F.col("tot_qty") > 150)
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    return orders.join(
        big, orders.o_orderkey == big.l_orderkey
    ).select(
        "o_custkey",
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("total_price"),
        F.col("tot_qty").cast("double").alias("tot_qty"),
    )


@register(
    "part_revenue_concentration",
    """
    WITH rev AS (
        SELECT l_partkey,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                              * CAST(1 - l_discount AS DECIMAL(8,4))), 2)
                    AS DECIMAL(18,2)) AS r2
        FROM lineitem GROUP BY 1
    ),
    tot AS (
        SELECT CAST(count(*) AS DECIMAL(10,0)) AS cnt, sum(r2) AS total
        FROM rev
    )
    SELECT l_partkey, CAST(r2 AS DOUBLE) AS revenue
    FROM rev, tot
    WHERE r2 * cnt > total
    """,
)
def part_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped concentration query: per-part revenue kept only
    where it exceeds the mean part revenue — HAVING against a global
    aggregate of the same aggregation tree. The threshold compare is done
    as `r2 * count > sum` entirely in decimal space (an exact rewrite of
    `r2 > avg`): avg() returns double in DuckDB but decimal in Spark, so
    comparing against avg directly could flip boundary rows between
    engines. The (cnt, total) pair is a one-row broadcast. `rev` feeds
    both the total and the filter, so it is materialized once via an
    eager localCheckpoint (the q2/Q15 duplicated-subtree defect otherwise
    re-runs the lineitem aggregation per consumer; checkpoint blocks are
    GC-released with the frame, unlike persist() entries — ADVICE r04);
    per-row money math is fixed-point BIGINT as in
    q1_pricing_summary, exact under the 2-decimal generator contract."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    pi = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    di = F.round((F.lit(1) - F.col("l_discount")) * 100, 0).cast("bigint")
    rev = li.groupBy("l_partkey").agg(
        F.round(F.sum((pi * di).cast("decimal(38,0)")) / F.lit(10_000), 2)
        .cast("decimal(18,2)")
        .alias("r2")
    ).localCheckpoint(eager=True)
    tot = rev.agg(
        F.count(F.lit(1)).cast("decimal(10,0)").alias("cnt"),
        F.sum("r2").alias("total"),
    )
    return (
        rev.join(F.broadcast(tot))
        .where(F.col("r2") * F.col("cnt") > F.col("total"))
        .select("l_partkey", F.col("r2").cast("double").alias("revenue"))
    )


@register(
    "sole_return_supplier",
    """
    SELECT l1.l_suppkey AS s_suppkey,
           CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
    FROM lineitem l1
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY 1
    """,
)
def sole_return_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped double-correlated query: suppliers who were the
    ONLY supplier with a returned line on a multi-supplier order. The
    oracle states it with EXISTS + NOT EXISTS; the Spark plan rewrites both
    correlations into ONE per-order set aggregation, turning two
    correlated self-semi-joins over the fact table into a single keyed
    shuffle — the rewrite that makes Q21 survive 100 TB.

    Per order, the distinct-supplier set and the distinct returning-
    supplier set ride one groupBy as collect_sets (bounded by suppliers
    per order — single digits — so the partial-aggregate buffers stay
    tiny and map-side combine works); a qualifying order has > 1
    suppliers and exactly one returner, and contributes that one
    returner. Since each qualifying order yields exactly one row, the
    per-supplier count IS count(DISTINCT l_orderkey). The earlier form
    pre-aggregated on (orderkey, suppkey) and re-aggregated per order —
    correct, but the composite-key partitioning satisfies neither the
    per-order aggregate nor the final orderkey join, so the fact table
    crossed three large exchanges; this one crosses exactly one (sf10
    A/B warm: 14.5 -> 9.7 s)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.size(F.collect_set("l_suppkey")).alias("n_supp"),
        F.collect_set(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("_ret"),
    )
    return (
        per_order.where((F.col("n_supp") > 1) & (F.size("_ret") == 1))
        .select(F.element_at("_ret", 1).alias("s_suppkey"))
        .groupBy("s_suppkey")
        .agg(_count(None, "numwait"))
    )


@register(
    "variant_extract_stats",
    """
    SELECT event_type,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_valid
    FROM events GROUP BY event_type
    """,
)
def variant_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured stats through Spark 4's VARIANT type: parse_json
    once into the binary variant encoding, then typed variant_get paths —
    the engine's answer to schemaless props columns at scale (parse once,
    typed access; amenable to shredded columnar storage), vs
    json_extract_sum's string-path get_json_object. Missing keys yield
    NULL, which min/max/sum/count skip — same semantics both engines."""
    ev = _t(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return ev.groupBy("event_type").agg(
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.sum(k).alias("k_sum"),
        F.count(k).alias("n_valid"),
    )


@register(
    "word_runs_udtf",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents WHERE doc_id % 25 = 0),
    w AS (SELECT doc_id, i, toks[i] AS tok
          FROM t, generate_series(1, 512) g(i) WHERE i <= len(toks)),
    m AS (SELECT doc_id, i, tok,
                 CASE WHEN lag(tok) OVER (PARTITION BY doc_id ORDER BY i)
                      IS DISTINCT FROM tok THEN 1 ELSE 0 END AS brk
          FROM w),
    r AS (SELECT doc_id, i, tok,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS grp
          FROM m)
    SELECT doc_id, CAST(grp - 1 AS INTEGER) AS run_idx, tok AS word,
           CAST(count(*) AS INTEGER) AS run_len
    FROM r GROUP BY doc_id, grp, tok
    """,
)
def word_runs_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4): run-length-encode each document's
    word sequence with a LATERAL-correlated arrow-optimized table function
    (operators/udtfs.py:WordRuns). The generator carries sequential state
    per document — logic explode() can't express — and runs inside a
    partition-local Generate node (no shuffle; scales linearly). The
    oracle proves the imperative generator against a pure-SQL
    gaps-and-islands rewrite (lag -> break flags -> running group id ->
    group count), so the UDTF seam itself is hash-checked. The 512 bound
    in the oracle's generate_series covers the corpus max of ~100 tokens
    (DuckDB disallows lateral column refs in table functions)."""
    from .operators.udtfs import register_udtfs

    register_udtfs(spark)
    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 25 == 0)
        .select("doc_id", "text")
    )
    return spark.sql(
        """
        SELECT d.doc_id, s.run_idx, s.word, s.run_len
        FROM {docs} d, LATERAL word_runs(d.text) s
        """,
        docs=docs,
    )


# ---------------------------------------------------------------------------
# TPC-H shape completion: Q3/Q6/Q8/Q9/Q10/Q12/Q14/Q19 on the testdata star
# schema (no partsupp table; no shipmode/commitdate columns — Q12 adapts to
# ship-delay classes, Q9 profit is discount-revenue without supply cost)
# ---------------------------------------------------------------------------


@register(
    "unshipped_priority_revenue",
    """
    SELECT l_orderkey,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                          * CAST(1 - l_discount AS DECIMAL(8,4))), 2)
                AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def unshipped_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping-priority query: ordered-but-unshipped
    revenue for one market segment, top 10. Scale shape: both date
    predicates and the segment filter push into the scans (segment prunes
    customers BEFORE the broadcast, so the fact join is against a reduced
    dim); the final ORDER BY+LIMIT is a TakeOrderedAndProject — per
    partition top-10 then a driver merge of 32x10 rows, never a global
    sort. Extra o_orderkey tiebreak makes the limit deterministic."""
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    rev = _dec("l_extendedprice", 12, 4) * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(8,4)")
    return (
        orders.join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "forecast_revenue_delta",
    """
    SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                          * CAST(l_discount AS DECIMAL(8,4))), 2)
                AS DOUBLE) AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.03 AND 0.05
      AND l_quantity < 24
    """,
)
def forecast_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped forecasting query: revenue increase if small
    discounts were eliminated. The canonical scan-filter-aggregate: ALL
    four predicates push to the parquet reader (row-group min/max pruning
    on shipdate at rest), no join, no shuffle beyond the single scalar
    gather. The plan IS the pushdown showcase."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.05)
        & (F.col("l_quantity") < 24)
    )
    delta = _dec("l_extendedprice", 12, 4) * _dec("l_discount", 8, 4)
    return li.agg(
        F.round(F.sum(delta), 2).cast("double").alias("revenue_delta")
    )


@register(
    "market_share_by_year",
    """
    SELECT o_year,
           CAST(round(sum(CASE WHEN supp_nation = 'CHINA' THEN rev ELSE 0 END)
                      / sum(rev), 6) AS DOUBLE) AS mkt_share
    FROM (
        SELECT EXTRACT(year FROM o_orderdate) AS o_year,
               CAST(l_extendedprice AS DECIMAL(12,4))
                   * CAST(1 - l_discount AS DECIMAL(8,4)) AS rev,
               n2.n_name AS supp_nation
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    ) t
    GROUP BY o_year ORDER BY o_year
    """,
)
def market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped national market share: one nation's fraction of
    regional revenue for a part type, per year. The 8-table join graph
    reduces to ONE fact shuffle (lineitem->orders): part, supplier,
    customer, both nation roles, and region all broadcast after their
    filters. The share division happens on the final tiny per-year
    aggregate. Decimal revenue; round(6) for cross-engine float parity."""
    part = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), "n_regionkey"
    )
    asia = (
        _t(spark, sf_dir, "region")
        .where(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    rev = (
        _dec("l_extendedprice", 12, 4)
        * (F.lit(1) - F.col("l_discount")).cast("decimal(8,4)")
    ).alias("rev")
    t = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(asia), F.col("n_regionkey") == asia.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            rev,
            "supp_nation",
        )
    )
    china = F.when(F.col("supp_nation") == "CHINA", F.col("rev")).otherwise(
        F.lit(0).cast("decimal(12,4)")
    )
    return (
        t.groupBy("o_year")
        .agg(
            F.round(F.sum(china) / F.sum("rev"), 6)
            .cast("double")
            .alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "nation_year_profit",
    """
    SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                          * CAST(1 - l_discount AS DECIMAL(8,4))), 2)
                AS DOUBLE) AS profit
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%bolt%'
    GROUP BY 1, 2
    """,
)
def nation_year_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped product-line profit by supplier nation and year
    (profit = discounted revenue; the testdata schema has no partsupp
    supply-cost side). The p_name LIKE '%bolt%' filter cannot push to
    parquet (unanchored contains) but prunes the part dim to a fraction
    BEFORE broadcast, so the fact table is filtered by the broadcast hash
    join itself — the at-scale pattern for dimension-predicate queries."""
    part = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_name").like("%bolt%"))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    rev = _dec("l_extendedprice", 12, 4) * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(8,4)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(rev), 2).cast("double").alias("profit"))
    )


@register(
    "returned_item_losses",
    """
    SELECT c_custkey, c_name,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                          * CAST(1 - l_discount AS DECIMAL(8,4))), 2)
                AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-10-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item ranking: top 20 customers by revenue
    lost to returns in one quarter. Date range pushes to the orders scan,
    returnflag to lineitem; the c_* attributes ride the broadcast customer
    dim so the groupBy keys add no extra shuffle width; top-20 is
    TakeOrderedAndProject (c_custkey tiebreak for determinism)."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1997-10-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = _dec("l_extendedprice", 12, 4) * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(8,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "ship_delay_priority_counts",
    """
    SELECT delay_class,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM (
        SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30
                    THEN 'fast'
                    WHEN date_diff('day', o_orderdate, l_shipdate) <= 90
                    THEN 'normal' ELSE 'slow' END AS delay_class,
               o_orderpriority
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
    ) t
    GROUP BY delay_class ORDER BY delay_class
    """,
)
def ship_delay_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped priority-vs-shipping query, adapted to the testdata
    schema (no shipmode/commitdate): lines bucketed by order->ship delay
    class, counting urgent vs non-urgent order priorities per class via
    conditional aggregation — the CASE-sum pivot that avoids a second
    grouping key shuffle. One fact-fact equi-join, shipdate range pushed."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_shipdate")
    )
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    delay_class = (
        F.when(delay <= 30, "fast").when(delay <= 90, "normal").otherwise("slow")
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(delay_class.alias("delay_class"), urgent.alias("is_urgent"))
        .groupBy("delay_class")
        .agg(
            F.sum(F.when(F.col("is_urgent"), 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(~F.col("is_urgent"), 1).otherwise(0))
            .cast("bigint")
            .alias("low_line_count"),
        )
        .orderBy("delay_class")
    )


@register(
    "promo_revenue_pct",
    """
    SELECT CAST(round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                       THEN CAST(l_extendedprice AS DECIMAL(12,4))
                                            * CAST(1 - l_discount AS DECIMAL(8,4))
                                       ELSE CAST(0 AS DECIMAL(12,4)) END)
                      / sum(CAST(l_extendedprice AS DECIMAL(12,4))
                            * CAST(1 - l_discount AS DECIMAL(8,4))), 6)
                AS DOUBLE) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promotion effect: percent of one month's revenue
    from promo parts. Month range pushes to the lineitem scan; part
    broadcasts (only partkey+type read — column pruning keeps the
    broadcast tiny); numerator and denominator come out of ONE aggregation
    pass via conditional sum, no second scan."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _dec("l_extendedprice", 12, 4) * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(8,4)")
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(12,4)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(F.lit(100.0) * F.sum(promo) / F.sum(rev), 6)
            .cast("double")
            .alias("promo_pct")
        )
    )


@register(
    "disjunctive_brand_revenue",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                          * CAST(1 - l_discount AS DECIMAL(8,4))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#33' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive predicate join: three OR'd
    (brand, size, quantity) conjunctions across the join. Catalyst
    extracts the common single-table residuals — the part side prunes to
    the three brands before broadcast and the lineitem side gets the
    derived quantity envelope (1..30) pushed to its scan — then applies
    the full disjunction as the join residual; the at-scale win is that
    neither side reads rows outside its envelope."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(1, 15)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#22")
            & F.col("p_size").between(1, 25)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#33")
            & F.col("p_size").between(1, 35)
            & q.between(20, 30)
        )
    )
    rev = _dec("l_extendedprice", 12, 4) * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(8,4)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .where(cond)
        .agg(
            _count(None, "n_lines"),
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Portable-hash twins: the SimHash family and TF-IDF re-expressed over the
# engine-portable 60-bit md5 hash / an explicit vocabulary, so the waivered
# hash-dependent queries gain FULLY oracle-checked counterparts — DuckDB
# recomputes the identical fingerprints and weights from scratch.
# ---------------------------------------------------------------------------

# Shared fingerprint CTE: must mirror operators.dedup.simhash_fingerprints
# (hash_fn='portable60') token-for-token — normalize (lower + whitespace
# collapse), split on single space KEEPING empties, 60-bit md5 hash, per-bit
# +1/-1 votes over token INSTANCES, bit set iff vote sum > 0.
_SIMHASH_PORTABLE_CTE = """
    toks AS (
        SELECT doc_id,
               unnest(string_split(
                   regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ')) AS tok
        FROM documents
    ), th AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
        FROM toks
    ), votes AS (
        SELECT doc_id, b.bit,
               sum(CASE WHEN ((h >> b.bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
        FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit) b
        GROUP BY 1, 2
    ), fps AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id
    )
"""


@register(
    "simhash_portable_fingerprints",
    f"""
    WITH {_SIMHASH_PORTABLE_CTE}
    SELECT doc_id, simhash FROM fps
    """,
)
def simhash_portable_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprints over the engine-portable md5 hash —
    the oracle-checked twin of simhash_fingerprints (which keeps xxhash64
    for the hot path: one JVM op vs md5's hex round-trip). The oracle
    recomputes every fingerprint from raw text in SQL, so a hash-exact
    match proves tokenization, hashing, bit votes, and assembly all agree
    bit-for-bit across engines. Plan shape is identical to the xxhash64
    variant: explode tokens -> one groupBy(doc) with 60 conditional sums,
    zero joins."""
    from .operators.dedup import simhash_fingerprints

    return simhash_fingerprints(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        "text",
        "doc_id",
        bits=60,
        hash_fn="portable60",
    )


@register(
    "simhash_portable_neardups",
    f"""
    WITH {_SIMHASH_PORTABLE_CTE}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM fps a JOIN fps b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def simhash_portable_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pipeline under a COMPLETE exact oracle: with
    max_hamming (3) <= chunks-1 (4-1), pigeonhole banding provably recalls
    every pair within distance 3, so the banded candidate-join + popcount
    verify must equal the all-pairs scan the oracle runs — the engine's
    linear-scale path checked against the quadratic ground truth, exactly.
    (The oracle's O(n^2) join is affordable only at conformance SF; the
    engine side never materializes all pairs.)"""
    from .operators.dedup import simhash_near_duplicates

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = simhash_near_duplicates(
        docs, "text", "doc_id", max_hamming=3, chunks=4,
        bits=60, hash_fn="portable60",
    )
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# Shared MinHash CTE (r11, VERDICT r10 #1 — the SimHash-twin treatment for
# the MinHash family): must mirror operators.dedup token-for-token —
# split on single space KEEPING empties, DISTINCT word-3-gram shingles,
# base = portable60(shingle), h_i = portable60(base_decimal || ':' || i),
# signature[i] = min over shingles. 32 hashes.
_MINHASH_PORTABLE_CTE = """
    t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), s AS (
        SELECT DISTINCT doc_id,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
        FROM t, LATERAL unnest(generate_series(1, len(toks) - 2)) AS g(i)
    ), based AS (
        SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS bh FROM s
    ), h AS (
        SELECT doc_id, g.i AS h_idx,
               ('0x' || substr(md5(CAST(bh AS VARCHAR) || ':' ||
                   CAST(g.i AS VARCHAR)), 1, 15))::BIGINT AS hv
        FROM based CROSS JOIN
             (SELECT unnest(generate_series(0, 31)) AS i) g
    ), sig AS (
        SELECT doc_id, h_idx, min(hv) AS min_h FROM h GROUP BY 1, 2
    )
"""


@register(
    "minhash_portable_signatures",
    f"""
    WITH {_MINHASH_PORTABLE_CTE}
    SELECT doc_id, CAST(h_idx AS INTEGER) AS h_idx, min_h FROM sig
    """,
)
def minhash_portable_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures over the engine-portable md5-derived hash family
    — the oracle-checked twin of the xxhash64 signature path (which stays
    the hot default: one JVM op per hash vs md5's hex round-trip). The
    oracle recomputes every min-hash from raw text in SQL — tokenization,
    shingling, the base hash, all 32 derived hashes, and the per-doc min —
    so a hash-exact match proves the entire signature construction agrees
    value-for-value across engines. Signatures are emitted exploded
    (doc_id, h_idx, min_h) so the comparison is row-exact without array
    semantics. Plan shape identical to the xxhash64 variant: one shingle
    explode -> 32 column hashes -> one groupBy(doc)."""
    from .operators.dedup import minhash_signatures

    sigs = minhash_signatures(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        "text",
        "doc_id",
        num_hashes=32,
        hash_fn="portable60",
    )
    return sigs.select(
        "doc_id", F.posexplode("sig").alias("h_idx", "min_h")
    )


@register(
    "minhash_portable_neardups",
    f"""
    WITH {_MINHASH_PORTABLE_CTE}, bnd AS (
        SELECT doc_id, (h_idx // 2) AS band,
               string_agg(CAST(min_h AS VARCHAR), ':' ORDER BY h_idx) AS bkey
        FROM sig GROUP BY doc_id, (h_idx // 2)
    ), bh2 AS (
        SELECT doc_id, band,
               ('0x' || substr(md5(bkey), 1, 15))::BIGINT AS bh
        FROM bnd
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bh2 a JOIN bh2 b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ), sz AS (
        SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id
    ), inter AS (
        SELECT c.id_a, c.id_b, count(*) AS inter
        FROM cand c
        JOIN s sa ON sa.doc_id = c.id_a
        JOIN s sb ON sb.doc_id = c.id_b AND sa.sh = sb.sh
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(inter / (za.sz + zb.sz - inter), 6) AS jaccard
    FROM inter
    JOIN sz za ON za.doc_id = id_a
    JOIN sz zb ON zb.doc_id = id_b
    WHERE inter / (za.sz + zb.sz - inter) >= 0.05
    """,
)
def minhash_portable_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL MinHash+LSH near-dup pipeline under a full value oracle
    (VERDICT r10 #1 — the last big rows-only family flipped): DuckDB
    re-derives every signature, every band key (string_agg of the band's
    min-hashes in row order, md5-hashed exactly like the engine's
    portable60 band hash), the candidate pair set from band-bucket
    equality, and the exact Jaccard verification — so the engine's
    banded linear-scale shape (ONE (band, band_hash) equi-join, never
    all-pairs) is checked against an independent replay of the identical
    algorithm, not just a recall contract. max_bucket_size=None is the
    exact-recall conformance mode (no bucket at these SFs approaches the
    100k production cap anyway); the xxhash64 twin minhash_near_duplicates
    remains the hot path and keeps its recall-contract check."""
    from .operators.dedup import minhash_near_duplicates

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return minhash_near_duplicates(
        docs, "text", "doc_id", threshold=0.05, num_hashes=32, bands=16,
        max_bucket_size=None, hash_fn="portable60",
    )


@register(
    "incremental_exact_screen",
    r"""
    WITH fps AS (
        SELECT doc_id,
               md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        FROM documents
    ), corpus AS (
        SELECT DISTINCT fp FROM fps WHERE doc_id % 10 <> 0
    )
    SELECT n.doc_id AS doc_id, n.fp AS fp,
           (c.fp IS NOT NULL) AS is_dup
    FROM fps n LEFT JOIN corpus c ON n.fp = c.fp
    WHERE n.doc_id % 10 = 0
    """,
)
def incremental_exact_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ingest screening (operators.dedup.screen_exact_duplicates):
    the incoming 10% batch probed against the corpus's distinct canonical
    md5 fingerprint set — the cheap stage that runs before
    incremental_neardup_ingest in a real ingest pipeline. md5 over the
    shared normalization is engine-portable, so the oracle recomputes
    every fingerprint and the flag exactly."""
    from .operators.dedup import screen_exact_duplicates

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    return screen_exact_duplicates(new, corpus, "text", "doc_id")


@register(
    "incremental_neardup_ingest",
    f"""
    WITH {_SIMHASH_PORTABLE_CTE}
    SELECT n.doc_id AS new_id, c.doc_id AS corpus_id,
           CAST(bit_count(xor(n.simhash, c.simhash)) AS INTEGER) AS hamming
    FROM fps n JOIN fps c
      ON n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
    WHERE bit_count(xor(n.simhash, c.simhash)) <= 3
    """,
)
def incremental_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup: the 'incoming batch' (docs with doc_id % 10 = 0,
    ~10% of the corpus) screened for near-dups against the accepted corpus
    (the other 90%) via operators.dedup.incremental_near_duplicates —
    banded-simhash candidates new-vs-corpus, never a corpus self-join.
    Portable 60-bit hash + max_hamming (3) <= chunks-1 (4-1) makes the
    banding complete, so the oracle states the ground truth directly as
    the quadratic new x corpus Hamming scan (blocking-independent, like
    fuzzy_supplier_matches)."""
    from .operators.dedup import incremental_near_duplicates

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    out = incremental_near_duplicates(
        new, corpus, "text", "doc_id", max_hamming=3, chunks=4,
        bits=60, hash_fn="portable60",
    )
    return out.select(
        "new_id", "corpus_id", F.col("hamming").cast("int").alias("hamming")
    )


@register(
    "tfidf_exact_features",
    """
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(
                   regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ')) AS tok
        FROM documents
    ), tfq AS (
        SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        FROM toks WHERE tok <> '' GROUP BY 1, 2
    ), dfq AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS df_t FROM tfq GROUP BY 1
    ), nd AS (
        SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents
    )
    SELECT tfq.doc_id,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(round(max(tf * (ln((n_docs + 1.0) / (df_t + 1.0)) + 1)), 6)
                AS DOUBLE) AS top_weight,
           CAST(round(sum(tf * (ln((n_docs + 1.0) / (df_t + 1.0)) + 1)), 6)
                AS DOUBLE) AS weight_sum
    FROM tfq JOIN dfq ON tfq.tok = dfq.tok CROSS JOIN nd
    GROUP BY tfq.doc_id
    """,
)
def tfidf_exact_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-vocabulary TF-IDF under a full value oracle — the checked
    twin of tfidf_features (whose HashingTF bucket indices are not
    SQL-reproducible). Smooth idf ln((N+1)/(df+1))+1; weights round(6) so
    the cross-engine sum fold order stays invisible. Two hash aggregations
    + one shuffle equi-join on the term key (vocabulary scales with the
    corpus — deliberately NOT broadcast)."""
    from .operators.mlpipeline import tfidf_exact_features

    return tfidf_exact_features(
        _t(spark, sf_dir, "documents"), "text", "doc_id"
    )


@register(
    "curation_funnel",
    """
    WITH base AS (
        SELECT doc_id, text, lang,
               regexp_replace(lower(text), '\\s+', ' ', 'g') AS norm
        FROM documents
    ), feat AS (
        SELECT doc_id, text, lang, norm,
               len(string_split(norm, ' ')) AS n_tok,
               CASE WHEN length(text) = 0 THEN 0.0
                    ELSE round((length(text)
                                - length(regexp_replace(text, '[^A-Za-z]', '', 'g')))
                               * 1.0 / length(text), 4) END AS non_alpha
        FROM base
    ), q AS (
        SELECT * FROM feat
        WHERE n_tok BETWEEN 5 AND 10000 AND non_alpha <= 0.3
    ), l AS (
        SELECT * FROM q WHERE lang = 'en'
    ), e AS (
        SELECT * FROM l
        QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(norm))
    ), toks AS (
        SELECT doc_id, unnest(string_split(norm, ' ')) AS tok FROM e
    ), th AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
    ), votes AS (
        SELECT doc_id, b.bit,
               sum(CASE WHEN ((h >> b.bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
        FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit) b
        GROUP BY 1, 2
    ), fps AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS fp
        FROM votes GROUP BY doc_id
    ), dropset AS (
        SELECT DISTINCT b.doc_id
        FROM fps a JOIN fps b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fp, b.fp)) <= 3
    ), nd AS (
        SELECT * FROM e WHERE doc_id NOT IN (SELECT doc_id FROM dropset)
    ), nd_toks AS (
        SELECT doc_id, string_split(norm, ' ') AS tk FROM nd
    ), nd_sh AS (
        SELECT DISTINCT doc_id,
               tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
               tk[i+3] || ' ' || tk[i+4] AS sh
        FROM nd_toks, generate_series(1, 200) s(i)
        WHERE i + 4 <= len(tk)
    ), ev_toks AS (
        SELECT doc_id,
               string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'),
                            ' ') AS tk
        FROM documents WHERE doc_id % 97 = 0
    ), ev_sh AS (
        SELECT DISTINCT tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
               tk[i+3] || ' ' || tk[i+4] AS sh
        FROM ev_toks, generate_series(1, 200) s(i)
        WHERE i + 4 <= len(tk)
    ), contaminated AS (
        SELECT DISTINCT doc_id FROM nd_sh JOIN ev_sh USING (sh)
    ), dc AS (
        SELECT * FROM nd
        WHERE doc_id % 97 <> 0
          AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ), packs AS (
        SELECT lang, CAST(floor(doc_id / 1000) AS BIGINT) AS shard,
               CAST(floor(
                   (sum(n_tok) OVER (
                        PARTITION BY lang, floor(doc_id / 1000)
                        ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    ) - n_tok) / 512) AS BIGINT) AS bin
        FROM dc
    )
    SELECT 0 AS stage_idx, 'input' AS stage,
           CAST((SELECT count(*) FROM documents) AS BIGINT) AS n
    UNION ALL SELECT 1, 'quality', CAST((SELECT count(*) FROM q) AS BIGINT)
    UNION ALL SELECT 2, 'language', CAST((SELECT count(*) FROM l) AS BIGINT)
    UNION ALL SELECT 3, 'exact_dedup', CAST((SELECT count(*) FROM e) AS BIGINT)
    UNION ALL SELECT 4, 'neardup_dedup', CAST((SELECT count(*) FROM nd) AS BIGINT)
    UNION ALL SELECT 5, 'decontaminated', CAST((SELECT count(*) FROM dc) AS BIGINT)
    UNION ALL SELECT 6, 'packed_bins',
        CAST((SELECT count(*) FROM (SELECT DISTINCT lang, shard, bin FROM packs))
             AS BIGINT)
    """,
)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation pipeline under one hash-exact oracle: quality
    gate -> language filter -> md5 exact dedup -> portable-simhash near-dup
    dedup -> prefix 5-gram benchmark decontamination -> packing, with the
    per-stage survivor counts recomputed from scratch by DuckDB (including
    re-deriving every simhash fingerprint and the full decontamination
    shingle join). One wrong filter boundary, hash bit, or window frame
    anywhere in the chain breaks the hash match — the strongest
    whole-pipeline check in the registry (operators/curation.py)."""
    from .operators.curation import curate_corpus

    funnel, _ = curate_corpus(_t(spark, sf_dir, "documents"))
    return funnel


@register(
    "source_capped_sample",
    """
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM (
        SELECT source, doc_id,
               row_number() OVER (
                   PARTITION BY source ORDER BY n_chars DESC, doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= 10
    GROUP BY source
    """,
)
def source_capped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain balancing: cap each source at its 10 longest documents
    (operators/curation.cap_per_group — one partitioned window, shuffle
    on the group key only). id_sum makes the oracle sensitive to WHICH
    rows survive, not just how many; (n_chars DESC, doc_id) is a total
    order so the cut is deterministic in both engines."""
    from .operators.curation import cap_per_group

    docs = _t(spark, sf_dir, "documents")
    capped = cap_per_group(
        docs, "source", 10,
        order_by=[F.col("n_chars").desc(), F.col("doc_id")],
    )
    return capped.groupBy("source").agg(
        _count(None, "n_docs"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
    )


@register(
    "mixture_weights_by_source",
    """
    WITH per_src AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS mass
        FROM documents GROUP BY 1
    ), shares AS (
        SELECT *, CAST(mass AS DOUBLE) / sum(mass) OVER () AS p,
               pow(CAST(mass AS DOUBLE) / sum(mass) OVER (), 0.3) AS pa
        FROM per_src
    )
    SELECT source, n_docs, mass,
           round(p, 6) AS p_source,
           round(pa / sum(pa) OVER (), 6) AS weight,
           round((pa / sum(pa) OVER ()) / p, 6) AS oversample,
           round(pa / sum(pa) OVER () * 10000.0, 4) AS expected_docs
    FROM shares
    """,
)
def mixture_weights_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled data-mixing weights per source (alpha=0.3 over
    character mass, 10k-doc budget) — the sampling table a multi-source
    pretraining pipeline feeds its reader
    (operators/curation.temperature_mixture_weights). One corpus pass;
    the normalizing windows run over the |sources|-row mixture table."""
    from .operators.curation import temperature_mixture_weights

    return temperature_mixture_weights(
        _t(spark, sf_dir, "documents"),
        "source", "n_chars", alpha=0.3, budget_docs=10_000,
    )


@register(
    "unigram_logprob_scores",
    """
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(
                   regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ')) AS tok
        FROM documents
    ), tk AS (
        SELECT doc_id, tok FROM toks WHERE tok <> ''
    ), freq AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM tk GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(tf) AS BIGINT) AS total FROM freq
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
           CAST(round(avg(ln(tf * 1.0 / total)), 6) AS DOUBLE) AS avg_logprob
    FROM tk JOIN freq USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def unigram_logprob_scores_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring under a full value oracle — the
    perplexity-style filter signal for curation, with DuckDB re-deriving
    the corpus distribution and every per-doc mean log-probability."""
    from .operators.textanalysis import unigram_logprob_scores

    return unigram_logprob_scores(
        spread_for_cpu(_t(spark, sf_dir, "documents")), "text", "doc_id"
    )


# Shared by repeated_ngram_spans (string mode, the conformance default)
# and repeated_ngram_spans_hashed (the 100 TB hash-first mode): the two
# modes are contract twins — identical (doc_id, pos, ngram_md5, n_docs)
# rows — so they share ONE oracle (plus a hypothesis property test).
_NGRAM_SPANS_ORACLE = """
    WITH t AS (
        SELECT doc_id,
               regexp_split_to_array(
                   regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ') AS toks
        FROM documents
    ), g AS (
        SELECT doc_id, i AS pos,
               array_to_string(toks[i+1:i+5], ' ') AS ng
        FROM t, UNNEST(range(0, len(toks) - 5 + 1)) AS u(i)
        WHERE len(toks) >= 5
    ), f AS (
        SELECT ng, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM g GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT doc_id, CAST(pos AS BIGINT) AS pos, md5(ng) AS ngram_md5, n_docs
    FROM g JOIN f USING (ng)
    """


@register("repeated_ngram_spans", _NGRAM_SPANS_ORACLE)
def repeated_ngram_spans_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup detection under a full value oracle:
    DuckDB re-derives every 5-token span coordinate, the distinct-doc
    frequency of every span, and the repeated-span join
    (operators/dedup.repeated_ngram_spans)."""
    from .operators.dedup import repeated_ngram_spans

    return repeated_ngram_spans(
        spread_for_cpu(_t(spark, sf_dir, "documents")), "text", "doc_id",
        n=5, min_docs=2,
    )


@register("repeated_ngram_spans_hashed", _NGRAM_SPANS_ORACLE)
def repeated_ngram_spans_hashed_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The hash-first 100 TB mode of repeated-span mining (VERDICT r07
    #2): the frequency shuffle carries one xxhash64 per span (8 bytes)
    instead of the joined n-token string; survivors are string-verified
    so the output — and therefore this shared oracle — is identical to
    the string mode's (operators/dedup.repeated_ngram_spans)."""
    from .operators.dedup import repeated_ngram_spans

    return repeated_ngram_spans(
        spread_for_cpu(_t(spark, sf_dir, "documents")), "text", "doc_id",
        n=5, min_docs=2, hash_spans=True,
    )


@register(
    "substring_dedup_rewrite",
    """
    WITH t AS (
        SELECT doc_id,
               regexp_split_to_array(
                   regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ') AS toks
        FROM documents
    ), g AS (
        SELECT doc_id, i AS pos,
               array_to_string(toks[i+1:i+5], ' ') AS ng
        FROM t, UNNEST(range(0, len(toks) - 5 + 1)) AS u(i)
        WHERE len(toks) >= 5
    ), f AS (
        SELECT ng FROM g GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
    ), canon AS (
        SELECT ng, min(doc_id) AS canon FROM g JOIN f USING (ng) GROUP BY ng
    ), removable AS (
        SELECT g.doc_id, g.pos
        FROM g JOIN canon USING (ng) WHERE g.doc_id <> canon.canon
    ), covered AS (
        SELECT DISTINCT doc_id, pos + j AS tpos
        FROM removable, UNNEST(range(0, 5)) AS r(j)
    ), tk AS (
        SELECT doc_id, i AS tpos, toks[i+1] AS tok
        FROM t, UNNEST(range(0, len(toks))) AS u(i)
        WHERE toks[i+1] <> ''
    ), kept AS (
        SELECT tk.doc_id, tk.tpos, tk.tok
        FROM tk ANTI JOIN covered USING (doc_id, tpos)
    ), rebuilt AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
               md5(string_agg(tok, ' ' ORDER BY tpos)) AS cleaned_md5
        FROM kept GROUP BY doc_id
    ), totals AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok FROM tk GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
           CAST(n_tok - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
           coalesce(cleaned_md5, md5('')) AS cleaned_md5
    FROM totals LEFT JOIN rebuilt USING (doc_id)
    """,
)
def substring_dedup_rewrite_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of exact substring dedup under a full value
    oracle: DuckDB re-derives the repeated spans, the canonical (min doc)
    occurrence per span, every covered token position, and the md5 of
    every rewritten document (operators/dedup.remove_repeated_spans)."""
    from .operators.dedup import remove_repeated_spans

    return remove_repeated_spans(
        spread_for_cpu(_t(spark, sf_dir, "documents")), "text", "doc_id",
        n=5, min_docs=2,
    )


# Shared by semantic_dedup_cells (joined conformance form) and
# semantic_dedup_blocked (scale form): the two strategies are contract twins
# — identical (vec_id, cell, kept) verdicts — so they share ONE oracle.
# The 6 sign dims and the 0.35 threshold are pinned HERE and passed
# explicitly at both call sites (ADVICE r07: relying on the operator
# default silently desynchronizes query and oracle if the default moves).
_SEMANTIC_DEDUP_ORACLE = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), c AS (
        SELECT vec_id, v,
               CAST((CASE WHEN v[1] > 0 THEN 1 ELSE 0 END)
                  + (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END)
                  + (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END)
                  + (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END)
                  + (CASE WHEN v[5] > 0 THEN 16 ELSE 0 END)
                  + (CASE WHEN v[6] > 0 THEN 32 ELSE 0 END) AS BIGINT)
                   AS cell
        FROM e
    ), dropped AS (
        SELECT DISTINCT b.vec_id
        FROM c a JOIN c b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE sqrt(list_dot_product(a.v, a.v)) > 0
          AND sqrt(list_dot_product(b.v, b.v)) > 0
          AND round(list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v))
                       * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35
    )
    SELECT vec_id, cell,
           vec_id NOT IN (SELECT vec_id FROM dropped) AS kept
    FROM c
    """


@register("semantic_dedup_cells", _SEMANTIC_DEDUP_ORACLE)
def semantic_dedup_cells_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup under a full value oracle: DuckDB
    re-derives every sign-cell assignment, every within-cell cosine, and
    every keep-min-id verdict (operators/dedup.semantic_dedup). This is
    the JOINED conformance form — quadratic per cell BY CONTRACT (it is
    what the oracle recomputes); semantic_dedup_blocked is the scale form
    with identical verdicts."""
    from .operators.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, "vec_id", "embedding", threshold=0.35, n_sign_dims=6
    )


@register(
    "dsir_importance_weights",
    """
    WITH toks AS (
        SELECT doc_id, (lang = 'en') AS is_t,
               unnest(string_split(
                   regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ')) AS tok
        FROM documents
    ), tk AS (
        SELECT doc_id, is_t, tok FROM toks WHERE tok <> ''
    ), freq AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS r_tf,
               CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS t_tf
        FROM tk GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(r_tf) AS BIGINT) AS r_total,
               CAST(sum(t_tf) AS BIGINT) AS t_total,
               CAST(count(*) AS BIGINT) AS v
        FROM freq
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
           CAST(round(sum(  ln((t_tf + 1.0) / (t_total + v))
                          - ln((r_tf + 1.0) / (r_total + v))), 6)
                AS DOUBLE) AS log_ratio
    FROM tk JOIN freq USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def dsir_importance_weights_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection under a full value oracle: DuckDB
    re-derives both unigram distributions (target = lang='en' docs, raw =
    whole corpus, add-1 smoothing over the joint vocabulary) and every
    per-doc summed log-likelihood ratio
    (operators/textanalysis.dsir_importance_weights)."""
    from .operators.textanalysis import dsir_importance_weights

    return dsir_importance_weights(
        spread_for_cpu(_t(spark, sf_dir, "documents")),
        "text",
        "doc_id",
        target=F.col("lang") == "en",
    )


@register("semantic_dedup_blocked", _SEMANTIC_DEDUP_ORACLE)
def semantic_dedup_blocked_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKEW-proof scale form of SemDeDup semantic dedup: same
    cell-constrained keep-min-id semantics and the SAME full oracle as
    semantic_dedup_cells, but a cell hash-splits into blocks sized from
    the largest measured cell and every block pair is its own Arrow BLAS
    task — per-task memory is independent of the largest cell
    (operators/dedup._semantic_dedup_blocked). Passing the SAME oracle
    makes the two strategies hash-verified contract twins."""
    from .operators.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, "vec_id", "embedding", threshold=0.35, n_sign_dims=6,
        strategy="blocked",
    )


@register(
    "dsir_select_fraction",
    """
    WITH toks AS (
        SELECT doc_id, (lang = 'en') AS is_t,
               unnest(string_split(
                   regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ')) AS tok
        FROM documents
    ), tk AS (
        SELECT doc_id, is_t, tok FROM toks WHERE tok <> ''
    ), freq AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS r_tf,
               CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS t_tf
        FROM tk GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(r_tf) AS BIGINT) AS r_total,
               CAST(sum(t_tf) AS BIGINT) AS t_total,
               CAST(count(*) AS BIGINT) AS v
        FROM freq
    ), w AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
               CAST(round(sum(  ln((t_tf + 1.0) / (t_total + v))
                              - ln((r_tf + 1.0) / (r_total + v))), 6)
                    AS DOUBLE) AS log_ratio
        FROM tk JOIN freq USING (tok) CROSS JOIN tot
        GROUP BY doc_id
    ), pri AS (
        SELECT doc_id, n_tok, log_ratio,
               round(log_ratio - ln(-ln(
                   ((('0x' || substr(md5('dsir-v1' || CAST(doc_id AS VARCHAR)),
                                     1, 15))::BIGINT + 0.5)
                    / 1152921504606846976.0))), 6) AS priority
        FROM w
    ), th AS (
        SELECT round(quantile_cont(priority, 0.8), 6) AS thresh FROM pri
    )
    SELECT doc_id, n_tok, log_ratio, priority, thresh
    FROM pri CROSS JOIN th
    WHERE priority >= thresh
    """,
)
def dsir_select_fraction_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale DSIR selection shape (threshold filter, no top-k
    driver merge) under a full value oracle: DuckDB re-derives every
    weight, every Gumbel priority, the exact interpolated 0.8 percentile
    threshold, and the selected membership
    (operators/textanalysis.dsir_resample_fraction)."""
    from .operators.textanalysis import dsir_resample_fraction

    return dsir_resample_fraction(
        spread_for_cpu(_t(spark, sf_dir, "documents")), "text", "doc_id",
        target=F.col("lang") == "en", fraction=0.2,
    )


@register(
    "dsir_select_topk",
    """
    WITH toks AS (
        SELECT doc_id, (lang = 'en') AS is_t,
               unnest(string_split(
                   regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ')) AS tok
        FROM documents
    ), tk AS (
        SELECT doc_id, is_t, tok FROM toks WHERE tok <> ''
    ), freq AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS r_tf,
               CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS t_tf
        FROM tk GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(r_tf) AS BIGINT) AS r_total,
               CAST(sum(t_tf) AS BIGINT) AS t_total,
               CAST(count(*) AS BIGINT) AS v
        FROM freq
    ), w AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
               CAST(round(sum(  ln((t_tf + 1.0) / (t_total + v))
                              - ln((r_tf + 1.0) / (r_total + v))), 6)
                    AS DOUBLE) AS log_ratio
        FROM tk JOIN freq USING (tok) CROSS JOIN tot
        GROUP BY doc_id
    )
    SELECT doc_id, n_tok, log_ratio,
           round(log_ratio - ln(-ln(
               ((('0x' || substr(md5('dsir-v1' || CAST(doc_id AS VARCHAR)),
                                 1, 15))::BIGINT + 0.5)
                / 1152921504606846976.0))), 6) AS priority
    FROM w
    ORDER BY priority DESC, doc_id
    LIMIT (SELECT greatest(50, count(*) // 5) FROM documents)
    """,
)
def dsir_select_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's SELECTION step (VERDICT r07 #5) under a full value oracle:
    deterministic Gumbel-top-k sampling proportional to exp(weight) —
    DuckDB re-derives every importance weight, every seeded-hash Gumbel
    perturbation, and the exact top-k membership with the same
    max(50, |documents| // 5) budget
    (operators/textanalysis.dsir_resample)."""
    from .operators.textanalysis import dsir_resample

    docs = _t(spark, sf_dir, "documents")
    # serving-shaped budget: derived from a footer-count on BOTH engines
    # so the contract is identical at every SF (memory: workloads must
    # not grow on one side only)
    k = max(50, docs.count() // 5)
    return dsir_resample(
        spread_for_cpu(docs), "text", "doc_id",
        target=F.col("lang") == "en", k=k,
    )


@register(
    "adaptive_quality_gate",
    """
    WITH scored AS (
        SELECT doc_id, lang,
               coalesce(CAST(lang AS VARCHAR), '<null>') AS _g,
               round(CAST(length(text) AS DOUBLE)
                     / len(regexp_split_to_array(trim(text), '\\s+')),
                     4) AS score
        FROM documents
    ), th AS (
        SELECT _g, round(quantile_cont(score, 0.25), 4) AS thresh
        FROM scored GROUP BY _g
    )
    SELECT doc_id, lang, score, thresh,
           coalesce(score >= thresh, false) AS kept
    FROM scored JOIN th USING (_g)
    """,
)
def adaptive_quality_gate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language adaptive quality threshold under a full oracle: DuckDB
    recomputes every score, every per-language exact interpolated p25
    (quantile_cont == Spark `percentile`), and every keep verdict
    (operators/curation.adaptive_quality_gate)."""
    from .operators.curation import adaptive_quality_gate

    return adaptive_quality_gate(
        _t(spark, sf_dir, "documents"), "text", "doc_id", "lang", pct=0.25
    )


@register(
    "leakage_safe_split",
    f"""
    WITH RECURSIVE {_SIMHASH_PORTABLE_CTE.strip()}, sim AS (
        SELECT a.doc_id AS u, b.doc_id AS v
        FROM fps a JOIN fps b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ), edges AS (
        SELECT u, v FROM sim UNION SELECT v, u FROM sim
    ), nodes AS (
        SELECT DISTINCT u AS id FROM edges
    ), reach AS (
        SELECT id AS src, id AS node FROM nodes
        UNION
        SELECT r.src, e.v FROM reach r JOIN edges e ON r.node = e.u
    ), comp AS (
        SELECT src AS doc_id, min(node) AS comp FROM reach GROUP BY src
    ), allc AS (
        SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS comp
        FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, comp,
           CASE WHEN (('0x' || substr(md5(CAST(comp AS VARCHAR)), 1, 4))::BIGINT
                      % 10) < 8
                THEN 'train' ELSE 'test' END AS split
    FROM allc
    """,
)
def leakage_safe_split_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/test split under a full oracle: DuckDB
    re-derives the portable simhash pair graph, walks the transitive
    closure with a recursive CTE, and recomputes every md5 bucket — so the
    hash match proves near-dup clusters never straddle the split
    (operators/curation.leakage_safe_split)."""
    from .operators.curation import leakage_safe_split

    return leakage_safe_split(_t(spark, sf_dir, "documents"))


@register(
    "deterministic_stratified_docs",
    """
    WITH b AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER
                   % 100 AS bucket
        FROM documents
    )
    SELECT doc_id, lang FROM b
    WHERE bucket < CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 25
                             WHEN 'es' THEN 25 WHEN 'fr' THEN 10
                             WHEN 'zh' THEN 10 ELSE 0 END
    """,
)
def deterministic_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-bucket stratified sampling under a row-exact oracle — the
    reproducible twin of stratified_sample_docs (whose Spark-RNG Bernoulli
    draws DuckDB cannot replay). md5-bucket membership is engine-portable,
    so the oracle verifies EXACTLY which documents are in the mix, per
    stratum (operators/dedup.deterministic_stratified_sample)."""
    from .operators.dedup import deterministic_stratified_sample

    docs = _t(spark, sf_dir, "documents")
    fracs = {"en": 0.5, "de": 0.25, "es": 0.25, "fr": 0.10, "zh": 0.10}
    return deterministic_stratified_sample(docs, "lang", fracs).select(
        "doc_id", "lang"
    )


@register(
    "local_supplier_volume",
    """
    SELECT n_name,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                          * CAST(1 - l_discount AS DECIMAL(8,4))), 2)
                AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped local-supplier volume: revenue where the customer
    and supplier share a nation, by nation, one region + one year. The
    same-nation constraint rides the supplier broadcast join condition
    (an equi-join on TWO keys — suppkey and nationkey), so no post-join
    filter materializes cross-nation rows; region/nation prune the
    customer dim before broadcast; the only fact shuffle is
    lineitem->orders."""
    cutlo = F.lit("1997-01-01").cast("timestamp")
    cuthi = F.lit("1998-01-01").cast("timestamp")
    asia = (
        _t(spark, sf_dir, "region")
        .where(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name"
    )
    nat_asia = nat.join(F.broadcast(asia), nat.n_regionkey == asia.r_regionkey)
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cust_asia = cust.join(
        F.broadcast(nat_asia), cust.c_nationkey == nat_asia.n_nationkey
    ).select("c_custkey", "c_nationkey", "n_name")
    orders = (
        _t(spark, sf_dir, "orders")
        .where((F.col("o_orderdate") >= cutlo) & (F.col("o_orderdate") < cuthi))
        .select("o_orderkey", "o_custkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = _dec("l_extendedprice", 12, 4) * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(8,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_asia), F.col("o_custkey") == cust_asia.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (F.col("c_nationkey") == supp.s_nationkey),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "small_quantity_revenue",
    """
    WITH pa AS (
        SELECT l_partkey AS pk, avg(l_quantity) AS avg_qty
        FROM lineitem GROUP BY 1
    )
    SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))) / 7.0, 2)
                AS DOUBLE) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    JOIN pa ON pa.pk = l_partkey
    WHERE p_brand = 'Brand#11'
      AND l_quantity < 0.2 * avg_qty
    """,
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped small-quantity-order revenue: lineitems under 20%
    of their part's average order quantity, one brand class. The
    correlated avg subquery becomes a per-part aggregate joined back on
    the part key — two passes over lineitem but each a plain scan; the
    per-part avg table is dimension-sized, and the brand filter prunes
    part before its broadcast. No window, no correlated re-execution."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#11")
        .select("p_partkey")
    )
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(pa, F.col("l_partkey") == F.col("pk"))
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.round(F.sum(_dec("l_extendedprice", 12, 4)) / 7.0, 2))
            .cast("double")
            .alias("avg_yearly")
        )
    )


@register(
    "native_session_window_counts",
    """
    WITH o AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800 THEN 1
                    ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM o
    )
    SELECT user_id,
           CAST(min(ts) AS TIMESTAMP) AS session_start,
           CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
           CAST(count(*) AS BIGINT) AS n
    FROM s GROUP BY user_id, sid
    """,
)
def native_session_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window aggregation (dynamic-gap merge inside
    one hash aggregate — no lag window pass) checked against the classic
    gaps-and-islands SQL: a session closes when the next event is >= 30min
    after the previous one, end = last event + gap. Shuffles once on
    user_id; the merge of overlapping windows happens inside the
    aggregation operator, which is also what makes this the streaming-
    compatible formulation (same expression works under a watermark)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"),
            "user_id",
        )
        .agg(_count(None, "n"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
        )
    )


@register(
    "try_arithmetic_probe",
    """
    SELECT o_orderkey,
           CASE WHEN (o_orderkey % 3) = 0 THEN NULL
                ELSE CAST(round(o_totalprice / (o_orderkey % 3), 4)
                          AS DOUBLE) END AS safe_div,
           TRY_CAST(o_orderstatus AS DOUBLE) AS bad_cast,
           CAST(o_orderkey + 1 AS BIGINT) AS incr
    FROM orders
    WHERE o_orderkey <= 100
    """,
)
def try_arithmetic_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error-safe arithmetic: try_divide returns NULL on
    divide-by-zero instead of raising (Spark 4 runs ANSI by default, where
    plain `/` on zero errors the whole job — the try_* family is how a
    pipeline over dirty data stays up), try_cast nulls unparseable input.
    Oracle spells the same semantics with CASE/TRY_CAST. Codegen scalars,
    zero shuffle beyond the pushed key filter."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 100)
    return o.select(
        "o_orderkey",
        F.round(
            F.try_divide(F.col("o_totalprice"), F.col("o_orderkey") % 3), 4
        ).cast("double").alias("safe_div"),
        F.col("o_orderstatus").try_cast("double").alias("bad_cast"),
        F.try_add(F.col("o_orderkey"), F.lit(1)).cast("bigint").alias("incr"),
    )


@register(
    "parameterized_sql_probe",
    """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
               AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-06-01' AND o_totalprice > 1000.0
    GROUP BY o_orderstatus
    """,
)
def parameterized_sql_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (spark.sql(query, args=...)): named :placeholders
    bind server-side as literals — the injection-safe way to template the
    SQL entry point (sql_surface.engine_sql) instead of string
    concatenation. The oracle runs the same query with inlined literals,
    proving the bound plan is equivalent."""
    from .sql_surface import register_views

    pin_session_conf(spark)
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, count(*) AS n,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)
                    AS DOUBLE) AS total
        FROM orders
        WHERE o_orderdate >= :cutoff AND o_totalprice > :floor
        GROUP BY o_orderstatus
        """,
        args={"cutoff": "1997-06-01", "floor": 1000.0},
    )


@register(
    "fuzzy_supplier_matches",
    """
    SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
           CAST(levenshtein(a.s_name, b.s_name) AS INTEGER) AS distance
    FROM supplier a JOIN supplier b
      ON length(a.s_name) = length(b.s_name)
     AND a.s_suppkey < b.s_suppkey
    WHERE levenshtein(a.s_name, b.s_name) <= 1
    """,
)
def fuzzy_supplier_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity-matching under a complete exact oracle:
    supplier names within ONE substitution, found via deletion-neighborhood
    blocking (operators/textanalysis.fuzzy_substitution_pairs: signature =
    the name with max_subs slices masked, equi-join on it) and verified
    with levenshtein. Because chunks > max_subs makes the blocking
    complete, the result provably equals the all-pairs scan — so the
    oracle states the ground truth DIRECTLY as the quadratic
    equal-length all-pairs filter, independent of the blocking scheme
    (stronger than replaying it): any blocking bug surfaces as a hash
    mismatch, not a matching bug in both engines."""
    from .operators.textanalysis import fuzzy_substitution_pairs

    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    # Short entity strings take per-character deletion (chunks >= name
    # length, extra slices degrade to empty — still complete): the
    # candidate set is then EXACTLY the hamming<=1 pairs, the minimum any
    # complete scheme can verify, at L signatures/row. Coarser slices on
    # sequential names leave a slice whose deletion keys millions of
    # spurious candidates (all ids sharing the other digits).
    return fuzzy_substitution_pairs(supp, "s_name", "s_suppkey", chunks=18)


@register(
    "events_key_skew_report",
    """
    WITH c AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(n) AS BIGINT) AS max_n,
           CAST(round(max(n) / avg(n), 4) AS DOUBLE) AS skew_ratio,
           CAST(max_by(user_id, n * 1000000000000 + user_id) AS BIGINT) AS hottest_key
    FROM c
    """,
)
def events_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic on events.user_id (operators/timeseries.
    key_skew_report): the pre-flight check that decides plain vs AQE-skew
    vs salted join. Spark orders max_by on struct(n, key) — type-safe for
    string keys, overflow-free; the oracle keeps the equivalent composite
    (count, key) scalar, valid there because user_id is a small bigint.
    Both break ties toward the highest key."""
    from .operators.timeseries import key_skew_report

    return key_skew_report(
        _t(spark, sf_dir, "events").select("user_id"), "user_id"
    ).select(
        "n_keys", "max_n", "skew_ratio",
        F.col("hottest_key").cast("bigint").alias("hottest_key"),
    )


# ---------------------------------------------------------------------------
# Last classic TPC-H shapes: Q2 / Q16 / Q20 analogues (beyond-reference SQL
# surface polish — VERDICT r02 #3). No partsupp table in the testdata, so
# lineitem's (partkey, suppkey) pairs serve as the part-supplier bridge.
# ---------------------------------------------------------------------------


@register(
    "q2_min_cost_supplier",
    """
    WITH rs AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON n_nationkey = s_nationkey
        JOIN region ON r_regionkey = n_regionkey
        WHERE r_name = 'EUROPE'
    ), ps AS (
        SELECT l_partkey AS partkey, l_suppkey AS suppkey,
               min(l_extendedprice) AS supply_cost
        FROM lineitem JOIN rs ON rs.s_suppkey = l_suppkey
        GROUP BY 1, 2
    ), pmin AS (
        SELECT partkey, min(supply_cost) AS min_cost FROM ps GROUP BY 1
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type, supply_cost
    FROM part
    JOIN ps ON ps.partkey = p_partkey
    JOIN pmin ON pmin.partkey = ps.partkey AND ps.supply_cost = pmin.min_cost
    JOIN rs ON rs.s_suppkey = ps.suppkey
    WHERE p_size <= 10 AND p_type = 'ECONOMY'
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped correlated min: for each qualifying part, the
    in-region supplier(s) offering the minimum supply cost (min lineitem
    price for that part-supplier pair — lineitem stands in for partsupp).
    The correlated `cost = (SELECT min ...)` subquery becomes a window
    min over the (partkey, suppkey) aggregate: one pass over `ps`, no
    self-join, so the lineitem-scan → broadcast-semi → groupBy subtree is
    evaluated exactly once (the r03 pmin-join formulation evaluated it
    once per consumer — VERDICT r03 #3).

    Scale: supplier⋈nation⋈region is dimension-sized and broadcast; the
    only big-table work is ONE scan of lineitem into a (partkey, suppkey)
    aggregate (map-side partial); the window repartitions the already
    part-cardinality `ps` frame by partkey; the final orderBy+limit
    compiles to TakeOrderedAndProject, never a global sort. The sort key
    (acctbal, n_name, s_name, partkey) is unique per row, so the LIMIT
    membership is deterministic."""
    rs = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
            ),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    parts = (
        _t(spark, sf_dir, "part")
        .where((F.col("p_size") <= 10) & (F.col("p_type") == "ECONOMY"))
        .select("p_partkey", "p_type")
    )
    # The part predicate is the query's most selective filter, and per-
    # partkey results are independent, so it pushes BELOW the aggregate:
    # a broadcast semi on qualifying partkeys joins the region semi
    # inside the lineitem scan, and the groupBy + window then run on the
    # qualifying ~2% of pairs instead of every (partkey, suppkey)
    # (attaching p_type via the inner join after the window is unchanged).
    ps = (
        li.join(F.broadcast(rs.select("s_suppkey")),
                F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(parts.select("p_partkey")),
              F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(F.min("l_extendedprice").alias("supply_cost"))
    )
    w_part = Window.partitionBy("partkey")
    return (
        ps.withColumn("_min_cost", F.min("supply_cost").over(w_part))
        .where(F.col("supply_cost") == F.col("_min_cost"))
        .drop("_min_cost")
        .join(F.broadcast(parts), F.col("partkey") == F.col("p_partkey"))
        .join(F.broadcast(rs), F.col("suppkey") == F.col("s_suppkey"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_type",
            "supply_cost",
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


@register(
    "q16_supplier_part_counts",
    """
    WITH bridge AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    )
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM bridge JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13'
      AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7'
      )
    GROUP BY 1, 2, 3
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped count-distinct with a NOT-IN exclusion list: how
    many distinct suppliers offer each surviving (brand, type, size) part
    class, excluding a name-matched supplier blocklist (the stand-in for
    Q16's complaint filter) and excluding one brand, one type prefix, and
    all but eight sizes.

    The NOT IN compiles to an anti join; s_suppkey is non-nullable here so
    the plain anti join IS the null-aware semantics (the null-propagating
    general case is covered by not_in_null_aware_anti). Scale: the
    blocklist and part dim are broadcast on the raw scan — the
    qualifying-part semi join and the supplier anti join filter inside
    the scan stage, and the ONLY shuffle is the count-distinct
    aggregate's own two-level rewrite (partial dedup of (brand, type,
    size, suppkey) map-side, then dimension-sized counting). The earlier
    explicit bridge DISTINCT on (partkey, suppkey) ahead of the
    aggregate was a second full exchange carrying a FINER key than the
    aggregate needs — the distinct aggregate's internal (group, suppkey)
    dedup subsumes it, since every partkey maps to one (brand, type,
    size) class (r04 moved the filters below the distinct, 6.8 -> ~2 s
    at sf10; r05 removes the now-redundant exchange entirely)."""
    excl = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_name").like("%7"))
        .select("s_suppkey")
    )
    parts = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#13")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    )
    bridge = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(
            F.broadcast(excl),
            F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
    )
    return (
        bridge.join(F.broadcast(parts), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@register(
    "q20_excess_shippers",
    """
    WITH pk AS (
        SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
    ), qty AS (
        SELECT l_suppkey, l_partkey,
               sum(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
                         AND l_shipdate < TIMESTAMP '1999-01-01'
                        THEN CAST(l_quantity AS DECIMAL(12,2))
                        ELSE CAST(0 AS DECIMAL(12,2)) END) AS q_1998,
               sum(CAST(l_quantity AS DECIMAL(12,2))) AS q_total
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM pk)
        GROUP BY 1, 2
    )
    SELECT s_suppkey, s_name
    FROM supplier JOIN nation ON n_nationkey = s_nationkey
    WHERE n_name LIKE 'NATION_1%'
      AND s_suppkey IN (
          SELECT l_suppkey FROM qty WHERE 2 * q_1998 > q_total
      )
    """,
)
def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped nested semi-join chain with a correlated half-sum
    threshold: suppliers (in a nation group) who, for at least one 'red'
    part, shipped more than half of their all-time quantity for that part
    during 1998 — Q20's "availqty < half the year's shipments" flipped to
    a self-contained form (no partsupp table). Chain: part-name semi
    filters lineitem; a per-(supp, part) conditional/total sum pair feeds
    the threshold; qualifying suppkeys semi-filter supplier.

    Determinism: quantities are integral (<= 50), so the sums run in pure
    BIGINT — exact and order-free with no decimal accumulator at all (a
    single (supp, part) group would need ~1.8e17 rows to overflow a
    long), and the half comparison is 2*q > total — integer-exact in both
    engines, no 0.5 float. The sums never appear in the output, so the
    oracle's DECIMAL formulation yields the identical qualifying set.
    Scale: the part blocklist is broadcast into the lineitem scan's semi
    join; one grouped pass over the filtered lineitem; the
    qualifying-supplier set is dimension-sized and drives a broadcast semi
    join against supplier — no big-side shuffle beyond the one aggregate."""
    pk = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", "l_quantity", "l_shipdate"
    )
    in98 = (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp")) & (
        F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp")
    )
    qi = F.round(F.col("l_quantity"), 0).cast("bigint")
    qty = (
        li.join(F.broadcast(pk),
                F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in98, qi).otherwise(F.lit(0))).alias("q_1998"),
            F.sum(qi).alias("q_total"),
        )
    )
    qualifying = (
        qty.where(F.lit(2) * F.col("q_1998") > F.col("q_total"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").where(
                    F.col("n_name").like("NATION_1%")
                )
            ),
            F.col("n_nationkey") == F.col("s_nationkey"),
            "left_semi",
        )
        .join(F.broadcast(qualifying),
              F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


@register(
    "semantic_dedup_fitted",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           CAST(count(*) AS BIGINT) AS n_verdicts,
           TRUE AS cells_le_k,
           CAST(0 AS BIGINT) AS n_mismatched,
           TRUE AS blocked_eq_joined
    FROM embeddings
    """,
)
def semantic_dedup_fitted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FITTED-CELL SemDeDup composition under the driver's oracle gate
    (VERDICT r08 next #2): seeded k-means assignments
    (operators/mlpipeline.cluster_embeddings, k=8, seed=42 — the paper's
    actual cells and the documented 100 TB sizing lever, SURVEY.md §8)
    piped into semantic_dedup(cell_col='cluster'), exercising the
    cell_col= path end-to-end instead of the sign-cell stand-in.

    Derived-contract form (the embedding_clusters_contract pattern):
    k-means centroids aren't SQL-expressible, so the oracle re-derives
    the SQL-checkable invariants — every vector gets exactly one verdict
    (n_points == n_verdicts == count(*), hash-checked hard) — while the
    fitted-cell verdicts themselves are cross-proven INSIDE the query:
    the blocked BLAS kernel and the declarative joined form consume the
    SAME assignment frame and must agree row-for-row (n_mismatched,
    hash-checked at 0; a kernel/fold divergence on fitted cells flips
    blocked_eq_joined and fails the hash). cells_le_k pins the assignment
    range. Quadratic by contract on the joined side — soak-excluded with
    the kernel twin (semantic_dedup_blocked) like semantic_dedup_cells."""
    from .operators.dedup import semantic_dedup
    from .operators.mlpipeline import cluster_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    cells = cluster_embeddings(emb, vec_col="embedding", id_col="vec_id",
                               k=8, seed=42)
    # one assignment frame feeds BOTH strategies (cached: the k-means
    # transform + join otherwise re-executes per consuming action); both
    # verdict frames come back checkpointed for the actions below
    with cached(emb.join(cells, "vec_id")) as with_cells:
        joined = semantic_dedup(
            with_cells, "vec_id", "embedding", threshold=0.35,
            cell_col="cluster",
        )
        blocked = semantic_dedup(
            with_cells, "vec_id", "embedding", threshold=0.35,
            cell_col="cluster", strategy="blocked",
        )
        b = blocked.select(
            "vec_id", F.col("cell").alias("c_b"), F.col("kept").alias("k_b")
        )
        j = joined.select(
            "vec_id", F.col("cell").alias("c_j"), F.col("kept").alias("k_j")
        )
        mism = (
            b.join(j, "vec_id", "full")
            .where(
                ~(
                    F.col("c_b").eqNullSafe(F.col("c_j"))
                    & F.col("k_b").eqNullSafe(F.col("k_j"))
                )
            )
            .count()
        )
        n_points = emb.count()
        n_verdicts = blocked.count()
        n_cells = blocked.select("cell").distinct().count()
    return local_df(spark, 
        [(n_points, n_verdicts, n_cells <= 8, mism, mism == 0)],
        "n_points bigint, n_verdicts bigint, cells_le_k boolean, "
        "n_mismatched bigint, blocked_eq_joined boolean",
    )


@register(
    "ivf_state_recall_check",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_queries, 5 AS k,
           CAST(0 AS BIGINT) AS n_mismatched,
           TRUE AS state_eq_derived, TRUE AS recall_ge_07
    FROM embeddings WHERE vec_id % {_ANN_STEP_SQL} = 0
    """,
)
def ivf_state_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-ANN-index contract (VERDICT r08 next #3): the IVF probe
    path over MATERIALIZED state (ivf_centroid_state round-tripped
    through a DataFrame + ivf_assign_batch inverted file +
    ivf_topk_from_state) must return exactly what the in-line
    fit-and-search path (ivf_ann_topk) returns for the same query batch
    — n_mismatched hash-checked at 0 — and the state path's recall vs
    the brute-force exact top-k clears the same >= 0.7 bar as
    ivf_recall_check. n_queries re-derives from the oracle's query-set
    predicate. The nightly-ingest framing: centroids + assignments are
    the parquet store, this query is one night's probe batch."""
    from .operators.similarity import ivf_assign_batch, ivf_topk_from_state

    emb = _embedding_vecs(spark, sf_dir)
    q = _ann_queries(emb, sf_dir)
    # same memoized fit as ivf_ann_topk — the state under test IS that
    # model state, materialized to a (cell, centroid) table
    cents = _ivf_centroids_for(spark, sf_dir)
    centroid_state = local_df(spark, 
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, centroid array<double>",
    )
    assignments = ivf_assign_batch(emb, centroid_state)
    via_state = ivf_topk_from_state(
        assignments, centroid_state, q, k=5, n_probe=8
    )
    derived = ivf_ann_topk_query(spark, sf_dir)
    exact = embedding_cosine_topk(spark, sf_dir).select("q_id", "c_id")
    with cached(derived), cached(via_state), cached(exact):
        mism = (
            via_state.join(
                derived, ["q_id", "c_id"], "full"
            )
            .where(
                ~via_state["sim"].eqNullSafe(derived["sim"])
            )
            .count()
        )
        total = exact.count()
        hits = exact.join(
            via_state.select("q_id", "c_id"), ["q_id", "c_id"]
        ).count()
        n_queries = exact.select("q_id").distinct().count()
    return local_df(spark, 
        [(n_queries, 5, mism, mism == 0, hits / total >= 0.7)],
        "n_queries bigint, k int, n_mismatched bigint, "
        "state_eq_derived boolean, recall_ge_07 boolean",
    )


@register(
    "bloom_decontaminate_overlap",
    """
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    g AS (
        SELECT doc_id,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
               toks[i+3] || ' ' || toks[i+4] AS sh
        FROM t, generate_series(1, 200) s(i)
        WHERE i + 4 <= len(toks)
    ),
    gd AS (SELECT DISTINCT doc_id, sh FROM g),
    ref_sh AS (SELECT DISTINCT sh FROM gd WHERE doc_id % 7 = 0)
    SELECT gd.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
    FROM gd JOIN ref_sh USING (sh)
    WHERE gd.doc_id % 7 <> 0
    GROUP BY gd.doc_id
    """,
)
def bloom_decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-vs-corpus decontamination through the Bloom-prefilter path
    (operators/curation.bloom_decontaminate): the doc_id%7 slice plays a
    reference corpus too large to broadcast as exact (hash, shingle)
    pairs, so its 5-grams are folded into an in-engine Bloom bitmap
    (k salted rehashes -> bucket -> map-side bit_or; the shuffle is capped
    at m_bits/64 rows, and the dense bitmap is assembled JVM-side in one
    ordered-array row — the Python driver never touches the bits; in
    production m_bits is corpus-aware, PERF.md r9 has the sf1/sf10 A/B;
    its harness is removed, see git history). Corpus grams probe the
    broadcast bitmap hash-first inside the scan stage — no gram string is
    built for non-candidates — and only Bloom survivors reach the verify
    equi-join, where string equality kills false positives and 64-bit
    collisions alike. The output is therefore EXACTLY the n-gram overlap
    join, which is what this full value oracle re-derives; the Bloom
    layer is pure traffic shaping. decontaminate_ngram_overlap is the
    fixed-benchmark twin (broadcast exact pairs, no bloom needed)."""
    from .operators.curation import bloom_decontaminate

    docs = spread_for_cpu(_t(spark, sf_dir, "documents"))
    return bloom_decontaminate(
        docs.where(F.col("doc_id") % 7 != 0),
        docs.where(F.col("doc_id") % 7 == 0),
        "text",
        "doc_id",
        n=5,
        prefix=200,
        # m_bits deliberately auto-derived (derive_bloom_m_bits from the
        # reference count): the output is invariant to sizing — FPs die in
        # the verify join — so the oracle is untouched, and the query
        # exercises the REAL scale path at every SF instead of a pinned
        # bitmap that saturates once the reference outgrows it
    )


@register(
    "bloom_state_overlap",
    """
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    g AS (
        SELECT doc_id,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
               toks[i+3] || ' ' || toks[i+4] AS sh
        FROM t, generate_series(1, 200) s(i)
        WHERE i + 4 <= len(toks)
    ),
    gd AS (SELECT DISTINCT doc_id, sh FROM g),
    ref_sh AS (SELECT DISTINCT sh FROM gd WHERE doc_id % 7 = 0),
    ov AS (
        SELECT gd.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
        FROM gd JOIN ref_sh USING (sh)
        WHERE gd.doc_id % 7 <> 0
        GROUP BY gd.doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_overlap) AS BIGINT) AS total_overlap,
           CAST(0 AS BIGINT) AS n_mismatched,
           TRUE AS state_eq_inline
    FROM ov
    """,
)
def bloom_state_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-decontamination-state contract (VERDICT r09 next #3) —
    the Bloom mirror of ivf_state_recall_check, closing the lifecycle
    gap where the state path (curation.bloom_decontaminate_state ->
    parquet -> bloom_decontaminate(state=...)) had pytest parity but no
    driver-checked query. The full nightly lifecycle runs inside the
    query: build state from the reference slice, WRITE it to parquet,
    read it back (self-describing geometry incl. the r10 n/prefix
    tracking validates on probe), probe the corpus through the stored
    state, and compare row-for-row against the inline reference path.
    The returned row pins (a) state == inline at 0 mismatched (id,
    n_overlap) rows, and (b) the aggregate (n_docs, total_overlap)
    which the oracle re-derives from the EXACT n-gram overlap join —
    so the hash-match proves state-path == inline-path == exact SQL."""
    import os
    import shutil
    import tempfile

    from .operators.curation import (
        bloom_decontaminate,
        bloom_decontaminate_state,
    )

    docs = spread_for_cpu(_t(spark, sf_dir, "documents"))
    corpus = docs.where(F.col("doc_id") % 7 != 0)
    ref = docs.where(F.col("doc_id") % 7 == 0)
    words, pairs = bloom_decontaminate_state(ref, "text", "doc_id")
    state_dir = tempfile.mkdtemp(prefix="bloom_state_")
    try:
        words.write.parquet(os.path.join(state_dir, "words"))
        pairs.write.parquet(os.path.join(state_dir, "pairs"))
        stored = (
            spark.read.parquet(os.path.join(state_dir, "words")),
            spark.read.parquet(os.path.join(state_dir, "pairs")),
        )
        inline = bloom_decontaminate(
            corpus, ref, "text", "doc_id", n=5, prefix=200
        )
        with cached(
            bloom_decontaminate(
                corpus, state=stored, text_col="text", id_col="doc_id"
            )
        ) as via_state:
            mism = (
                via_state.join(inline, "doc_id", "full")
                .where(
                    ~via_state["n_overlap"].eqNullSafe(inline["n_overlap"])
                )
                .count()
            )
            agg = via_state.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_overlap").alias("total_overlap"),
            ).collect()[0]
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)
    return local_df(spark, 
        [
            (
                int(agg["n_docs"]),
                int(agg["total_overlap"]),
                mism,
                mism == 0,
            )
        ],
        "n_docs bigint, total_overlap bigint, n_mismatched bigint, "
        "state_eq_inline boolean",
    )


@register(
    "bigram_logprob_scores",
    """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(
                   regexp_replace(lower(text), '\\s+', ' ', 'g'), ' '),
                   x -> x <> '') AS toks
        FROM documents
    ), b AS (
        SELECT doc_id, toks[i] AS prev, toks[i+1] AS cur
        FROM t, UNNEST(range(1, len(toks))) u(i)
    ), cbg AS (
        SELECT prev, cur, CAST(count(*) AS BIGINT) AS n_pc
        FROM b GROUP BY 1, 2
    ), ctx AS (
        SELECT prev, CAST(sum(n_pc) AS BIGINT) AS n_ctx FROM cbg GROUP BY 1
    ), voc AS (
        SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
        FROM (SELECT unnest(toks) AS tok FROM t)
    )
    SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigram,
           CAST(round(avg(ln((n_pc + 0.5) / (n_ctx + 0.5 * v))), 6)
                AS DOUBLE) AS avg_logprob
    FROM b JOIN cbg USING (prev, cur) JOIN ctx USING (prev) CROSS JOIN voc
    GROUP BY b.doc_id
    """,
)
def bigram_logprob_scores_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional-LM quality scoring under a full value oracle —
    DuckDB re-derives the corpus bigram counts, the context totals, the
    vocabulary size, and every per-doc mean log P(cur|prev) with add-0.5
    smoothing (operators/textanalysis.bigram_logprob_scores). The
    transition-aware upgrade of unigram_logprob_scores: same linear
    one-pass shape (zip_with bigrams, no self-join), one more
    vocabulary-sized aggregation."""
    from .operators.textanalysis import bigram_logprob_scores

    return bigram_logprob_scores(
        spread_for_cpu(_t(spark, sf_dir, "documents")), "text", "doc_id"
    )


def _zorder_oracle_sql(bits: int = 8) -> str:
    """DuckDB mirror of sources.io.with_zorder_key at ``bits`` bits over
    (user_id, value): identical min-max scaling expression (same
    parenthesization, so the doubles are bit-identical) and the Morton
    interleave unrolled to explicit shift/mask terms."""
    terms = " | ".join(
        f"(((c{j} >> {i}) & 1) << {i * 2 + j})"
        for j in range(2)
        for i in range(bits)
    )
    top = (1 << bits) - 1
    return f"""
    WITH b AS (
        SELECT CAST(min(user_id) AS DOUBLE) AS lo0,
               CAST(max(user_id) AS DOUBLE) AS hi0,
               min(value) AS lo1, max(value) AS hi1
        FROM events
    ), s AS (
        SELECT
          CASE WHEN user_id IS NULL OR (hi0 - lo0) <= 0 THEN 0
               ELSE least({top}, greatest(0, CAST(floor(
                   (CAST(user_id AS DOUBLE) - lo0) / (hi0 - lo0) * {top}
               ) AS BIGINT))) END AS c0,
          CASE WHEN value IS NULL OR (hi1 - lo1) <= 0 THEN 0
               ELSE least({top}, greatest(0, CAST(floor(
                   (value - lo1) / (hi1 - lo1) * {top}
               ) AS BIGINT))) END AS c1
        FROM events CROSS JOIN b
    )
    SELECT zkey, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT ({terms}) AS zkey FROM s)
    GROUP BY zkey
    """


@register("zorder_key_probe", _zorder_oracle_sql(bits=8))
def zorder_key_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) key computation under a full value oracle —
    DuckDB re-derives the min-max coordinate scaling and every
    bit-interleaved key over (user_id, value) at 8 bits/dimension
    (sources/io.with_zorder_key — the multi-dimensional data-skipping
    layout; write_parquet_zordered is the sink that range-partitions on
    this key so parquet min/max stats prune on every z-column at once).
    Grouped by key so the hash-match covers the full key distribution
    without shipping per-row output."""
    from .sources.io import with_zorder_key

    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    keyed = with_zorder_key(ev, ["user_id", "value"], bits=8)
    return (
        keyed.groupBy(F.col("_zkey").alias("zkey"))
        .agg(_count(None))
        .select("zkey", "n")
    )


@register(
    "zorder_optimize_lifecycle",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(user_id) AS BIGINT) AS sum_user_id,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
           TRUE AS compact_committed,
           TRUE AS rows_preserved,
           TRUE AS multi_file,
           TRUE AS span_narrow_both
    FROM events
    """,
)
def zorder_optimize_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER on the ACID table under the driver gate (r11,
    VERDICT r10 #2+#4 composed) — the manifest mirror of
    bloom_state_overlap's lifecycle pattern: the whole maintenance story
    runs INSIDE the query. Two appends land events in a ManifestTable,
    compact(zorder_by=['user_id','event_id'], zorder_mapping='rank')
    rewrites the snapshot z-ordered as one atomic version (rank mapping —
    the r11 range-split coordinates — gets driver-checked here since its
    sampled boundaries keep it out of the key-level oracle), and the
    COMMITTED files are then measured: every file's min/max span on BOTH
    z-columns must be narrow where the append layout spanned everything.
    The returned row pins the layout/commit booleans (oracle: TRUE) and
    content aggregates (n_rows, sum_user_id, n_types) the oracle
    re-derives from the raw events table — hash-match proves the
    rewrite changed LAYOUT only, never data."""
    import os
    import shutil
    import tempfile

    from .sources.manifest import ManifestTable

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    root = tempfile.mkdtemp(prefix="zorder_tbl_")
    try:
        t = ManifestTable.create(spark, root)
        t.append(ev.where(F.col("event_id") % 2 == 0).repartition(4),
                 "ingest", 0)
        t.append(ev.where(F.col("event_id") % 2 != 0).repartition(4),
                 "ingest", 1)
        v_before = t.latest_version()
        n_before = t.read().count()
        total = sum(
            os.path.getsize(os.path.join(t.root, f))
            for f in t._load(v_before)["files"]
        )
        committed = t.compact(
            target_file_bytes=max(1, total // 16),
            zorder_by=["user_id", "event_id"],
            zorder_bits=8,
            zorder_mapping="rank",
        )
        v_after = t.latest_version()
        snap = t.read()
        per_file = (
            snap.withColumn("_f", F.input_file_name())
            .groupBy("_f")
            .agg(
                F.min("user_id").alias("lu"), F.max("user_id").alias("hu"),
                F.min("event_id").alias("le"), F.max("event_id").alias("he"),
            )
            .collect()
        )
        agg = snap.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("user_id").alias("sum_user_id"),
            F.countDistinct("event_type").alias("n_types"),
        ).collect()[0]
    finally:
        shutil.rmtree(root, ignore_errors=True)

    def mean_span(lo_k: str, hi_k: str) -> float:
        lo = min(r[lo_k] for r in per_file)
        hi = max(r[hi_k] for r in per_file)
        return sum(
            (r[hi_k] - r[lo_k]) / (hi - lo) for r in per_file
        ) / len(per_file)

    return local_df(spark, 
        [
            (
                int(agg["n_rows"]),
                int(agg["sum_user_id"]),
                int(agg["n_types"]),
                bool(committed) and v_after == v_before + 1,
                int(agg["n_rows"]) == n_before,
                len(per_file) > 4,
                mean_span("lu", "hu") < 0.7 and mean_span("le", "he") < 0.7,
            )
        ],
        "n_rows bigint, sum_user_id bigint, n_types bigint, "
        "compact_committed boolean, rows_preserved boolean, "
        "multi_file boolean, span_narrow_both boolean",
    )


@register(
    "manifest_delete_lifecycle",
    """
    WITH thr AS (SELECT max(user_id) // 10 AS t FROM events)
    SELECT CAST(count(*) AS BIGINT) AS n_rows_after,
           CAST(sum(user_id) AS BIGINT) AS sum_user_after,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types_after,
           (SELECT CAST(count(*) AS BIGINT) FROM events, thr
            WHERE user_id < thr.t) AS n_deleted,
           TRUE AS delete_committed,
           TRUE AS pruned_rewrite,
           TRUE AS feed_exact
    FROM events, thr WHERE user_id >= thr.t
    """,
)
def manifest_delete_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE + change data feed on the ACID table under the
    driver gate (r12, VERDICT r11 #2 — the manifest mirror of
    zorder_optimize_lifecycle): events land in a ManifestTable, OPTIMIZE
    ZORDER lays them out with per-file min/max stats on (user_id,
    event_id), then ``delete("user_id < max/10")`` rewrites — and the
    returned row pins that the rewrite touched a strict SUBSET of the
    committed files (stats-pruned copy-on-write: discovery pushes the
    predicate into the parquet scan, so z-order layout decides which
    files are even opened), that the commit was atomic, and that
    ``changes_between(v_before, v_after)`` emits EXACTLY the deleted
    keys as 'delete' rows (the O(delta) change feed reads only the
    rewritten files and their replacements). Content aggregates are
    re-derived by the oracle from raw events minus the predicate —
    hash-match proves the delete removed precisely the predicate rows."""
    import shutil
    import tempfile

    from .sources.manifest import ManifestTable

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    thr = int(ev.agg(F.max("user_id")).collect()[0][0]) // 10
    root = tempfile.mkdtemp(prefix="delete_tbl_")
    try:
        t = ManifestTable.create(spark, root)
        t.append(ev.where(F.col("event_id") % 2 == 0).repartition(4),
                 "ingest", 0)
        t.append(ev.where(F.col("event_id") % 2 != 0).repartition(4),
                 "ingest", 1)
        import os as _os

        total = sum(
            _os.path.getsize(_os.path.join(t.root, f))
            for f in t._load(t.latest_version())["files"]
        )
        t.compact(
            target_file_bytes=max(1, total // 16),
            zorder_by=["user_id", "event_id"],
            zorder_bits=8,
        )
        v_before = t.latest_version()
        stats = t.delete(f"user_id < {thr}")
        v_after = t.latest_version()
        feed = (
            t.changes_between(v_before, v_after, ["event_id"])
            .groupBy("change_type")
            .count()
            .collect()
        )
        feed_counts = {r["change_type"]: r["count"] for r in feed}
        agg = t.read().agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("user_id").alias("sum_user"),
            F.countDistinct("event_type").alias("n_types"),
        ).collect()[0]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark, 
        [
            (
                int(agg["n_rows"]),
                int(agg["sum_user"]),
                int(agg["n_types"]),
                int(stats["rows_deleted"]),
                bool(stats["committed"]) and v_after == v_before + 1,
                0 < stats["files_rewritten"] < stats["files_total"],
                feed_counts == {"delete": stats["rows_deleted"]},
            )
        ],
        "n_rows_after bigint, sum_user_after bigint, n_types_after bigint, "
        "n_deleted bigint, delete_committed boolean, pruned_rewrite boolean, "
        "feed_exact boolean",
    )


@register(
    "bloom_append_overlap",
    """
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    g AS (
        SELECT doc_id,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
               toks[i+3] || ' ' || toks[i+4] AS sh
        FROM t, generate_series(1, 200) s(i)
        WHERE i + 4 <= len(toks)
    ),
    gd AS (SELECT DISTINCT doc_id, sh FROM g),
    ref_sh AS (SELECT DISTINCT sh FROM gd WHERE doc_id % 7 = 0),
    ov AS (
        SELECT gd.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
        FROM gd JOIN ref_sh USING (sh)
        WHERE gd.doc_id % 7 <> 0
        GROUP BY gd.doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_overlap) AS BIGINT) AS total_overlap,
           CAST(0 AS BIGINT) AS n_mismatched,
           TRUE AS appended_eq_oneshot
    FROM ov
    """,
)
def bloom_append_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-decontamination-state contract — the APPEND half of
    the Bloom lifecycle under the oracle gate (bloom_state_overlap
    covers build -> persist -> probe; this covers the nightly
    maintenance path `bloom_state_append`, which folds a new reference
    batch into stored state without re-reading old reference text).
    The reference arrives in two batches (doc_id%14==0, then %14==7 —
    their union is the %7==0 slice the sibling queries use); the
    appended state probes the corpus and is compared row-for-row
    against the ONE-SHOT state built from the full reference at the
    same pinned geometry (appends keep the bootstrap bitmap's m_bits/k,
    so both paths must hash identically). The returned row pins
    (a) appended == one-shot at 0 mismatched (id, n_overlap) rows and
    (b) the aggregate (n_docs, total_overlap), which the oracle
    re-derives from the EXACT n-gram overlap join — so the hash-match
    proves append-path == one-shot == exact SQL."""
    from .operators.curation import (
        bloom_decontaminate,
        bloom_decontaminate_state,
        bloom_state_append,
        derive_bloom_m_bits,
    )

    docs = spread_for_cpu(_t(spark, sf_dir, "documents"))
    corpus = docs.where(F.col("doc_id") % 7 != 0)
    ref_a = docs.where(F.col("doc_id") % 14 == 0)
    ref_b = docs.where(F.col("doc_id") % 14 == 7)
    ref_all = docs.where(F.col("doc_id") % 7 == 0)
    # geometry pinned at the EXPECTED final reference size (the sizing
    # note on bloom_state_append: bootstrap at the size the state grows
    # into, not the first batch's)
    m_bits = derive_bloom_m_bits(ref_all.count())
    appended = bloom_state_append(
        bloom_decontaminate_state(ref_a, "text", "doc_id", m_bits=m_bits),
        ref_b,
    )
    one_shot = bloom_decontaminate(
        corpus,
        state=bloom_decontaminate_state(
            ref_all, "text", "doc_id", m_bits=m_bits
        ),
    )
    with cached(bloom_decontaminate(corpus, state=appended)) as via_appended:
        mism = (
            via_appended.join(one_shot, "doc_id", "full")
            .where(
                ~via_appended["n_overlap"].eqNullSafe(one_shot["n_overlap"])
            )
            .count()
        )
        agg = via_appended.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_overlap").alias("total_overlap"),
        ).collect()[0]
    return local_df(spark, 
        [(int(agg["n_docs"]), int(agg["total_overlap"]), mism, mism == 0)],
        "n_docs bigint, total_overlap bigint, n_mismatched bigint, "
        "appended_eq_oneshot boolean",
    )


@register(
    "trigram_logprob_scores",
    """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(
                   regexp_replace(lower(text), '\\s+', ' ', 'g'), ' '),
                   x -> x <> '') AS toks
        FROM documents
    ), tri AS (
        SELECT doc_id, toks[i] AS p2, toks[i+1] AS p1, toks[i+2] AS cur
        FROM t, UNNEST(range(1, len(toks) - 1)) u(i)
    ), bi AS (
        SELECT toks[i] AS p1, toks[i+1] AS cur
        FROM t, UNNEST(range(1, len(toks))) u(i)
    ), uni AS (
        SELECT unnest(toks) AS cur FROM t
    ), c3 AS (
        SELECT p2, p1, cur, CAST(count(*) AS BIGINT) AS n3
        FROM tri GROUP BY 1, 2, 3
    ), ctx3 AS (
        SELECT p2, p1, CAST(sum(n3) AS BIGINT) AS n3ctx FROM c3 GROUP BY 1, 2
    ), c2 AS (
        SELECT p1, cur, CAST(count(*) AS BIGINT) AS n2 FROM bi GROUP BY 1, 2
    ), ctx2 AS (
        SELECT p1, CAST(sum(n2) AS BIGINT) AS n2ctx FROM c2 GROUP BY 1
    ), c1 AS (
        SELECT cur, CAST(count(*) AS BIGINT) AS n1 FROM uni GROUP BY 1
    ), sc AS (
        SELECT CAST(sum(n1) AS BIGINT) AS n_corpus,
               CAST(count(*) AS BIGINT) AS v
        FROM c1
    )
    SELECT tri.doc_id, CAST(count(*) AS BIGINT) AS n_trigram,
           CAST(round(avg(ln(
               0.6 * ((n3 + 0.5) / (n3ctx + 0.5 * v))
             + 0.3 * ((n2 + 0.5) / (n2ctx + 0.5 * v))
             + 0.1 * ((n1 + 0.5) / (n_corpus + 0.5 * v)))), 6)
                AS DOUBLE) AS avg_logprob
    FROM tri JOIN c3 USING (p2, p1, cur) JOIN ctx3 USING (p2, p1)
         JOIN c2 USING (p1, cur) JOIN ctx2 USING (p1) JOIN c1 USING (cur)
         CROSS JOIN sc
    GROUP BY tri.doc_id
    """,
)
def trigram_logprob_scores_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-trigram LM quality scoring (VERDICT r09 next #6) under
    a full value oracle — DuckDB re-derives all three orders' counts,
    both context tables, the corpus scalars, and every per-doc mean
    log(0.6*P3 + 0.3*P2 + 0.1*P1) with add-0.5 smoothing
    (operators/textanalysis.trigram_logprob_scores — the CCNet-style
    perplexity-filter shape the LM ladder was building toward). One-pass
    token explode per order, no self-joins; the trigram occurrence
    stream is joined only against vocabulary-sized model tables."""
    from .operators.textanalysis import trigram_logprob_scores

    return trigram_logprob_scores(
        spread_for_cpu(_t(spark, sf_dir, "documents")), "text", "doc_id"
    )
