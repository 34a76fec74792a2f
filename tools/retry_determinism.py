"""Task-retry determinism harness (VERDICT r05 #5).

No other test exercises RECOMPUTATION: local[*] runs with
spark.task.maxFailures=1, so a Spark task in this repo has never executed
twice. Retries are routine on a real cluster, and the failure mode they
probe is silent: an operator whose output depends on intra-partition row
arrival order (collect_set + element_at as in the Q21 rewrite, RNG-seeded
kernels, first/last without a full order) can produce a DIFFERENT but
plausible result when one map task re-runs.

This harness runs under ``local[8,2]`` (8 threads, maxFailures=2) and
injects failures by monkeypatching the queries-module table reader to
append a mapInPandas IDENTITY kernel that raises on every task's FIRST
attempt (TaskContext.attemptNumber() == 0) — so every scan-stage task of
every probed query executes exactly twice, and all downstream stages
consume recomputed map outputs. Three value hashes per query:

- clean     : stock query, no wrapper (baseline values)
- wrapped   : wrapper present but failures disabled (isolates any
              plan-shape effect of the Python barrier from the retry)
- retried   : wrapper + fail-once on every first attempt

Determinism holds iff wrapped == retried; wrapped == clean additionally
proves the wrapper itself is a faithful identity.

Usage: python tools/retry_determinism.py [sf_dir] [q1,q2,...]
Prints one JSON line: {query: {"clean": h, "wrapped": h, "retried": h}}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aim357_2019_etl_and_ml_workshop_spark.session import get_spark

DEFAULT_QUERIES = [
    # collect_set + element_at single-shuffle rewrite (queries.py Q21) —
    # the site VERDICT r05 named as most retry-sensitive
    "sole_return_supplier",
    # seeded quantile forecaster (applyInPandas) — RNG path
    "forecast_quantiles",
    # banded near-dup + connected components — iterative, Arrow kernels
    "neardup_clusters_banded",
    # minhash banding + exact-Jaccard verify
    "minhash_near_duplicates",
    # window family over recomputed scans
    "top3_per_status",
    # r7: per-doc reassembly via array_sort(collect_list(struct(pos,tok)))
    # — collect_list order is retry-dependent; the sort must neutralize it
    "substring_dedup_rewrite",
    # r8: hash-prefilter + string-verified survivors across two agg
    # passes and a broadcast semi-join, all fed by retried scans
    "repeated_ngram_spans_hashed",
    # r8: seeded Gumbel-top-k — tie/boundary membership under recompute
    "dsir_select_topk",
    # r8: block-pair kernels emit only dropped ids off retried scans —
    # the distinct+anti-join reduce must see the same id set per attempt
    "semantic_dedup_blocked",
]


def fail_once_wrap(df):
    """Identity mapInPandas that fails every task's first attempt when
    enabled via the _STATE["fail"] module-global flag (closure-captured)."""
    schema = df.schema

    def kern(batches):
        from pyspark import TaskContext

        tc = TaskContext.get()
        if _STATE["fail"] and tc is not None and tc.attemptNumber() == 0:
            raise RuntimeError(
                f"injected fail-once (partition {tc.partitionId()})"
            )
        for pdf in batches:
            yield pdf

    return df.mapInPandas(kern, schema)


_STATE = {"fail": False}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = (
        sys.argv[2].split(",") if len(sys.argv) > 2 else DEFAULT_QUERIES
    )
    spark = get_spark("retry-determinism", master="local[8,2]")
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    )
    from local_cluster_smoke import df_value_hash

    from aim357_2019_etl_and_ml_workshop_spark import queries as q

    real_t = q._t

    def wrapped_t(s, d, table):
        return fail_once_wrap(real_t(s, d, table))

    out: dict = {}
    try:
        reg = q.queries()
        for name in names:
            fn = reg[name]
            res = {}
            _STATE["fail"] = False
            q._t = real_t
            res["clean"] = df_value_hash(fn(spark, sf_dir))
            q._t = wrapped_t
            res["wrapped"] = df_value_hash(fn(spark, sf_dir))
            _STATE["fail"] = True
            res["retried"] = df_value_hash(fn(spark, sf_dir))
            _STATE["fail"] = False
            out[name] = res
        q._t = real_t

        # SHUFFLE-STAGE probe (VERDICT r06 #7): the scan-stage injection
        # above re-runs MAP tasks; this one re-runs a task BELOW an
        # exchange — minhash_signatures_from_shingles' returned frame is
        # post-(per-doc min-hash groupBy), so the fail-once kernel's
        # stage consumes shuffled map outputs and its retry is a genuine
        # post-exchange recompute feeding the banding, candidate join and
        # verify. This is the class where non-deterministic row ORDER
        # after a shuffle would actually bite the banded dedup downstream.
        from aim357_2019_etl_and_ml_workshop_spark.operators import (
            dedup as dd,
        )

        real_sigs = dd.minhash_signatures_from_shingles

        def patched_sigs(*a, **kw):
            return fail_once_wrap(real_sigs(*a, **kw))

        fn = reg["minhash_near_duplicates"]
        res = {}
        if "minhash_near_duplicates" in out:
            # the scan-stage loop above already hashed the stock query —
            # don't pay the full banded dedup a second time
            res["clean"] = out["minhash_near_duplicates"]["clean"]
        else:
            res["clean"] = df_value_hash(fn(spark, sf_dir))
        dd.minhash_signatures_from_shingles = patched_sigs
        try:
            res["wrapped"] = df_value_hash(fn(spark, sf_dir))
            _STATE["fail"] = True
            res["retried"] = df_value_hash(fn(spark, sf_dir))
            _STATE["fail"] = False
        finally:
            dd.minhash_signatures_from_shingles = real_sigs
        out["shuffle_stage:minhash_near_duplicates"] = res
    finally:
        q._t = real_t
        spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
