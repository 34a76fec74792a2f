"""r13: minhash_near_duplicates' verify-attach join strategy is chosen
from the corpus size (operators/dedup._corpus_join_strategy) — broadcast only
when the input provably fits the session broadcast budget, SHUFFLE_HASH
otherwise (the planner's own estimate for the collect_list aggregate is
unusably small and chose a ~400 MB broadcast at sf10, which
intermittently OOMs the driver). Results must be identical either way."""

from __future__ import annotations

from pyspark.sql import functions as F

from aim357_2019_etl_and_ml_workshop_spark.operators import dedup


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different text with no overlap at all"),
        (4, "the quick brown fox jumps over the lazy dog"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_corpus_join_strategy_defaults_shuffle_for_unknown_size(spark):
    # in-memory frame: no input files -> scale-safe SHUFFLE_HASH
    assert dedup._corpus_join_strategy(_docs(spark)) == "SHUFFLE_HASH"


def test_corpus_join_strategy_broadcasts_small_file_scans(spark, sf_dir):
    from aim357_2019_etl_and_ml_workshop_spark import queries as q

    docs = q._t(spark, sf_dir, "documents")
    # sf0.001 documents are a few hundred KB; 8x expansion stays far
    # under the session's 64 MB broadcast threshold
    assert dedup._corpus_join_strategy(docs) is None


def test_corpus_join_strategy_shuffles_when_budget_too_small(spark, sf_dir):
    from aim357_2019_etl_and_ml_workshop_spark import queries as q

    docs = q._t(spark, sf_dir, "documents")
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "1024")  # 1 KB budget: nothing fits
        assert dedup._corpus_join_strategy(docs) == "SHUFFLE_HASH"
        spark.conf.set(key, "-1")  # broadcasts disabled entirely
        assert dedup._corpus_join_strategy(docs) == "SHUFFLE_HASH"
    finally:
        spark.conf.set(key, prev)


def test_minhash_results_identical_under_both_strategies(
    spark, tmp_path, monkeypatch
):
    """Steer the guard through the session's broadcast budget on a
    file-backed corpus (an in-memory frame always gets SHUFFLE_HASH):
    the default 64 MB budget broadcasts, -1 shuffles. The verified pairs
    must be identical, and the guard must really have picked each side."""
    _docs(spark).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    picked = []
    guard = dedup._corpus_join_strategy

    def recording_guard(df):
        picked.append(guard(df))
        return picked[-1]

    monkeypatch.setattr(dedup, "_corpus_join_strategy", recording_guard)

    def pairs():
        return sorted(
            map(
                tuple,
                dedup.minhash_near_duplicates(docs, "text", "doc_id")
                .select("id_a", "id_b", F.col("jaccard"))
                .collect(),
            )
        )

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        bcast = pairs()
        spark.catalog.clearCache()
        spark.conf.set(key, "-1")
        shj = pairs()
    finally:
        spark.conf.set(key, prev)
        spark.catalog.clearCache()
    assert picked == [None, "SHUFFLE_HASH"]
    assert bcast == shj
    assert (1, 4, 1.0) in [(a, b, round(j, 6)) for a, b, j in bcast]
