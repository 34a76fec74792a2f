"""Corpus-aware block sizing for semantic_dedup(strategy='blocked')
(VERDICT r08 wrong #1 / next-round #1): the block size is derived from
the largest cell so it bounds the pair-shuffle replication factor, a
memory cap that forces replication past the bound warns loudly, and
neither changes verdicts.
"""

import math
import random
import warnings

import pytest
from pyspark.sql import Row

from aim357_2019_etl_and_ml_workshop_spark.operators import dedup
from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
    _BLOCK_REPL_TARGET,
    _BLOCK_REPL_WARN,
    _BLOCK_ROWS_CAP,
    _BLOCK_ROWS_FLOOR,
    derive_semantic_block_rows,
    semantic_dedup,
)


def test_derive_semantic_block_rows_policy():
    """The pure sizing policy: replication <= _BLOCK_REPL_TARGET whenever
    the memory cap allows it, floor/cap clamps, degenerate inputs."""
    # degenerate corpora -> one max-size block (B = 1)
    assert derive_semantic_block_rows(0) == _BLOCK_ROWS_CAP
    assert derive_semantic_block_rows(None) == _BLOCK_ROWS_CAP
    # small cells clamp to the floor (replication is trivially bounded)
    assert derive_semantic_block_rows(100) == _BLOCK_ROWS_FLOOR
    assert derive_semantic_block_rows(8 * _BLOCK_ROWS_FLOOR) == _BLOCK_ROWS_FLOOR
    # mid range: smallest block meeting the replication target
    for mx in (5_000, 10_000, 30_000, _BLOCK_REPL_TARGET * _BLOCK_ROWS_CAP):
        br = derive_semantic_block_rows(mx)
        assert _BLOCK_ROWS_FLOOR <= br <= _BLOCK_ROWS_CAP
        assert math.ceil(mx / br) <= _BLOCK_REPL_TARGET
    # past cap * target the memory ceiling wins and replication grows —
    # that regime is exactly what the runtime warning covers
    huge = 100 * _BLOCK_ROWS_CAP
    assert derive_semantic_block_rows(huge) == _BLOCK_ROWS_CAP
    assert math.ceil(huge / _BLOCK_ROWS_CAP) > _BLOCK_REPL_TARGET


def _skewed_corpus(spark, n_hot=300, n_cold=12, dim=4, seed=7):
    """One dominant sign cell (first component > 0) plus a few rows
    elsewhere — the boilerplate-heavy-cell shape the blocked strategy
    exists for. Discrete components force real near-duplicates."""
    rng = random.Random(seed)
    rows = []
    for i in range(n_hot):
        rows.append(
            Row(
                vec_id=i,
                embedding=[1.0]
                + [rng.choice([-1.0, 0.0, 0.5, 1.0]) for _ in range(dim - 1)],
            )
        )
    for i in range(n_cold):
        rows.append(
            Row(
                vec_id=n_hot + i,
                embedding=[-1.0]
                + [rng.choice([-1.0, 0.5]) for _ in range(dim - 1)],
            )
        )
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )


def test_blocked_auto_sizing_parity_and_no_warning(spark):
    """A skewed corpus: the derived size keeps replication within target,
    emits no warning, and the verdicts are exactly the joined form's."""
    df = _skewed_corpus(spark)
    kw = dict(threshold=0.8, n_sign_dims=1)
    joined = sorted(
        tuple(r)
        for r in semantic_dedup(df, "vec_id", "embedding", **kw).collect()
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any UserWarning fails the test
        blocked = sorted(
            tuple(r)
            for r in semantic_dedup(
                df, "vec_id", "embedding", strategy="blocked", **kw
            ).collect()
        )
    assert blocked == joined
    # the derived size bounds replication for this corpus's largest cell
    br = derive_semantic_block_rows(300)
    assert math.ceil(300 / br) <= _BLOCK_REPL_TARGET


def test_blocked_undersized_block_rows_warns_but_stays_correct(
    spark, monkeypatch
):
    """A cell so large that the memory cap forces replication past the
    warn bound (the PERF.md r8 780x-replica footgun) raises a loud
    UserWarning that names the finer-cells fix — and still produces
    identical verdicts (the block size never affects results, only the
    plan). A cap of 2 rows stands in for a cell of ~256k vectors."""
    df = _skewed_corpus(spark)
    kw = dict(threshold=0.8, n_sign_dims=1)
    joined = sorted(
        tuple(r)
        for r in semantic_dedup(df, "vec_id", "embedding", **kw).collect()
    )
    monkeypatch.setattr(dedup, "_BLOCK_ROWS_CAP", 2)
    assert dedup.derive_semantic_block_rows(300) == 2  # the cap wins
    assert math.ceil(300 / 2) > _BLOCK_REPL_WARN  # the setup really trips it
    with pytest.warns(UserWarning, match=r"replicates each") as rec:
        out = semantic_dedup(
            df, "vec_id", "embedding", strategy="blocked", **kw
        )
    blocked = sorted(tuple(r) for r in out.collect())
    assert blocked == joined
    assert any("finer cells" in str(w.message) for w in rec)
