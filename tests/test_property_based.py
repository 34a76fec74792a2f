"""Property-based tests (hypothesis) for the algorithmic operators whose
correctness arguments are combinatorial rather than example-shaped: tiling
boundaries in the dense near-dup sweep, union-find vs distributed label
propagation, windowed sequence packing, and hash-bucket sampling
determinism. Each property drives the REAL Spark operator on generated
inputs and compares against an independent pure-python reference —
example-based tests pin known cases; these hunt the edges (n % tile_rows,
singleton components, empty strata, budget-boundary tokens).

Examples are capped low because every example is a Spark job; the spark
fixture is session-scoped so no health-check suppression is needed.
"""

from __future__ import annotations

import hashlib

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


# ---------------------------------------------------------------------------
# tiled matmul sweep == brute force, at every tiling
# ---------------------------------------------------------------------------


@settings(**SETTINGS)
@given(data=st.data())
def test_tiled_matmul_pairs_matches_bruteforce_any_tiling(spark, data):
    from aim357_2019_etl_and_ml_workshop_spark.operators.similarity import (
        _tiled_matmul_pairs,
    )

    n = data.draw(st.integers(min_value=1, max_value=60), label="n")
    dim = data.draw(st.integers(min_value=2, max_value=12), label="dim")
    tile = data.draw(st.integers(min_value=1, max_value=n + 3), label="tile")
    thr = data.draw(
        st.floats(min_value=-0.5, max_value=0.99, allow_nan=False),
        label="threshold",
    )
    seed = data.draw(st.integers(min_value=0, max_value=2**16), label="seed")
    rng = np.random.RandomState(seed)
    mat = rng.randn(n, dim)
    mat[np.linalg.norm(mat, axis=1) < 1e-9] += 1.0  # no zero vectors
    ids = np.sort(
        rng.choice(np.arange(5 * n + 5, dtype=np.int64), size=n, replace=False)
    )
    norms = np.linalg.norm(mat, axis=1)
    got = {
        (r.id_a, r.id_b): r.sim
        for r in _tiled_matmul_pairs(
            spark, (ids, mat, norms), thr, tile_rows=tile
        ).collect()
    }
    sims = np.round(mat @ mat.T / np.outer(norms, norms), 6)
    # pairs within 1e-6 of the threshold may legitimately land on either
    # side of round(·, 6) under a different BLAS summation order — assert
    # exact agreement away from the boundary, containment at it.
    for i in range(n):
        for j in range(i + 1, n):
            key, s = (int(ids[i]), int(ids[j])), sims[i, j]
            if s >= thr + 1e-6:
                assert key in got and abs(got[key] - s) <= 1e-6
            elif s < thr - 1e-6:
                assert key not in got


# ---------------------------------------------------------------------------
# connected components: driver union-find == distributed propagation == BFS
# ---------------------------------------------------------------------------


def _bfs_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    adj: dict[int, set] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    out: dict[int, int] = {}
    for start in adj:
        if start in out:
            continue
        seen, frontier = {start}, [start]
        while frontier:
            nxt = []
            for x in frontier:
                for y in adj[x]:
                    if y not in seen:
                        seen.add(y)
                        nxt.append(y)
            frontier = nxt
        lo = min(seen)
        for x in seen:
            out[x] = lo
    return out


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),
            st.integers(min_value=0, max_value=40),
        ).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=60,
    )
)
def test_connected_components_both_paths_match_bfs(spark, edges):
    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    want = _bfs_components(edges)
    via_unionfind = {
        r.id: r.comp
        for r in connected_components(
            pairs, small_graph_threshold=10**9
        ).collect()
    }
    via_distributed = {
        r.id: r.comp
        for r in connected_components(pairs, small_graph_threshold=0).collect()
    }
    assert via_unionfind == want
    assert via_distributed == want


# ---------------------------------------------------------------------------
# sequence packing: windowed bin assignment == python reference
# ---------------------------------------------------------------------------


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=400),  # doc_id
            st.sampled_from(["en", "de", "zh"]),
            st.integers(min_value=1, max_value=40),  # word count
        ),
        min_size=1,
        max_size=50,
        unique_by=lambda t: t[0],
    ),
    budget=st.integers(min_value=1, max_value=64),
    shard_size=st.sampled_from([7, 100]),
)
def test_pack_sequences_matches_reference(spark, docs, budget, shard_size):
    from aim357_2019_etl_and_ml_workshop_spark.operators.mlpipeline import (
        pack_sequences,
    )

    rows = [(i, lang, " ".join(["w"] * k)) for i, lang, k in docs]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    got = {
        r.doc_id: (r.lang, r.shard, r.n_tok, r.bin)
        for r in pack_sequences(
            df, budget_tokens=budget, shard_size=shard_size
        ).collect()
    }
    want = {}
    groups: dict[tuple, list] = {}
    for i, lang, k in docs:
        groups.setdefault((lang, i // shard_size), []).append((i, k))
    for (lang, shard), members in groups.items():
        cum = 0
        for i, k in sorted(members):
            want[i] = (lang, shard, k, cum // budget)
            cum += k
    assert got == want


# ---------------------------------------------------------------------------
# deterministic stratified sampling: partitioning-independent membership
# ---------------------------------------------------------------------------


@settings(**SETTINGS)
@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=10_000),
        min_size=1,
        max_size=60,
        unique=True,
    ),
    fracs=st.fixed_dictionaries(
        {
            "en": st.sampled_from([0.0, 0.25, 0.5, 1.0]),
            "de": st.sampled_from([0.0, 0.5, 1.0]),
        }
    ),
)
def test_deterministic_stratified_sample_is_partitioning_independent(
    spark, ids, fracs
):
    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        deterministic_stratified_sample,
    )

    rows = [(i, "en" if i % 2 == 0 else "de") for i in ids]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    kept1 = {
        r.doc_id
        for r in deterministic_stratified_sample(df, "lang", fracs).collect()
    }
    shuffled = df.repartition(7, "lang").sortWithinPartitions(
        F.col("doc_id").desc()
    )
    kept2 = {
        r.doc_id
        for r in deterministic_stratified_sample(
            shuffled, "lang", fracs
        ).collect()
    }
    want = set()
    for i, lang in rows:
        pct = int(round(fracs[lang] * 100))
        bucket = int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % 100
        if bucket < pct:
            want.add(i)
    assert kept1 == want
    assert kept2 == want


# ---------------------------------------------------------------------------
# salted self-join skew split: answer-preserving at every salt count
# ---------------------------------------------------------------------------


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=300),  # doc_id
            st.sampled_from(["aaa bbb ccc", "aaa bbb ddd", "xyz qrs tuv",
                             "one two three four", "aaa bbb ccc"]),
        ),
        min_size=2,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    n_salt=st.sampled_from([1, 2, 5]),
    threshold=st.sampled_from([0, 2]),
)
def test_simhash_skew_split_preserves_the_answer(spark, docs, n_salt, threshold):
    """skew_split_bucket_size salts hot chunk buckets into independent
    join cells; the verified pair set must be IDENTICAL to the plain
    self-join for any salt count and any threshold (0 = every bucket
    salted), including duplicate-heavy inputs where whole buckets are one
    repeated text."""
    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        simhash_near_duplicates,
    )

    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    plain = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_duplicates(df, "text", "doc_id").collect()
    }
    salted = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_duplicates(
            df, "text", "doc_id",
            skew_split_bucket_size=threshold, n_salt=n_salt,
        ).collect()
    }
    assert salted == plain


# ---------------------------------------------------------------------------
# incremental (batch-vs-corpus) dedup == self-join over the union
# ---------------------------------------------------------------------------


_DOC_TEXT = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"]),
    min_size=1,
    max_size=8,
).map(" ".join)


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.tuples(st.integers(min_value=0, max_value=10_000), _DOC_TEXT),
        min_size=2,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
    split=st.data(),
)
def test_incremental_dedup_equals_selfjoin_over_union(spark, docs, split):
    """The invariant nightly ingest relies on (VERDICT r04 #8): for ANY
    split of a corpus into accepted-state C and incoming batch B,
    (a) screen_exact_duplicates(B, C) flags exactly the batch docs whose
        canonical fingerprint exists in C, and
    (b) incremental_near_duplicates(B, C) returns exactly the CROSS pairs
        (b in B, c in C) of the complete-banding self-join over C u B —
        i.e. processing data incrementally finds the same batch-vs-corpus
        duplicates as reprocessing everything at once; and the persisted
        corpus_banded= state path is identical to the corpus_df= path.
    The tiny vocab makes exact and near collisions common."""
    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        incremental_near_duplicates,
        screen_exact_duplicates,
        simhash_banding_state,
        simhash_near_duplicates,
    )

    flags = [
        split.draw(st.booleans(), label=f"in_batch_{i}")
        for i in range(len(docs))
    ]
    if all(flags):
        flags[0] = False  # corpus must be non-empty
    if not any(flags):
        flags[-1] = True  # batch must be non-empty
    corpus_rows = [d for d, f in zip(docs, flags) if not f]
    batch_rows = [d for d, f in zip(docs, flags) if f]
    schema = "doc_id bigint, text string"
    corpus = spark.createDataFrame(corpus_rows, schema)
    batch = spark.createDataFrame(batch_rows, schema)

    # (a) exact screen == python fingerprint-set reference
    def canon_fp(t):
        return hashlib.md5(" ".join(t.lower().split()).encode()).hexdigest()

    corpus_fps = {canon_fp(t) for _, t in corpus_rows}
    want_flags = {i: canon_fp(t) in corpus_fps for i, t in batch_rows}
    got_flags = {
        r[0]: r.is_dup
        for r in screen_exact_duplicates(batch, corpus, "text", "doc_id").collect()
    }
    assert got_flags == want_flags

    # (b) near-dup probe == cross-pair slice of the union self-join
    union = spark.createDataFrame(corpus_rows + batch_rows, schema)
    batch_ids = {i for i, _ in batch_rows}
    self_pairs = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_duplicates(union, "text", "doc_id").collect()
    }
    want_cross = {
        (a, b, h) if a in batch_ids else (b, a, h)
        for (a, b, h) in self_pairs
        if (a in batch_ids) != (b in batch_ids)
    }
    got_cross = {
        (r.new_id, r.corpus_id, r.hamming)
        for r in incremental_near_duplicates(
            batch, corpus, "text", "doc_id"
        ).collect()
    }
    assert got_cross == want_cross

    # persisted-state path == inline-corpus path
    state = simhash_banding_state(corpus, "text", "doc_id")
    got_state = {
        (r.new_id, r.corpus_id, r.hamming)
        for r in incremental_near_duplicates(
            batch, None, "text", "doc_id", corpus_banded=state
        ).collect()
    }
    assert got_state == want_cross


# ---------------------------------------------------------------------------
# distributed rank stats == built-in window, at every width / skew / size
# ---------------------------------------------------------------------------


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "a", "a", "b", "c"]),  # skewed parts
            st.integers(min_value=0, max_value=50),  # tie-heavy order value
            st.sampled_from(["p1", "p2", "p3"]),  # dense levels (ties)
        ),
        min_size=1,
        max_size=120,
    ),
    width=st.integers(min_value=1, max_value=9),
)
def test_distributed_rank_stats_matches_window_any_width(spark, rows, width):
    """Range-split local ranks + broadcast offsets must equal the window
    functions' definitions for ANY split width, part skew, and order-value
    tie pattern — the unique id appended as tiebreaker makes the order
    total, which is the operator's stated contract. The reference is the
    pure-python definition of percent_rank/cume_dist/dense_rank (rounded
    HALF_UP like Spark's round); test_analytics' slow-lane twin compares
    against the built-in window itself."""
    from decimal import ROUND_HALF_UP, Decimal

    from aim357_2019_etl_and_ml_workshop_spark.operators.analytics import (
        distributed_rank_stats,
    )

    def rnd(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    keyed = [(i, p, v, d) for i, (p, v, d) in enumerate(rows)]
    ref = {}
    for part in {p for _, p, _, _ in keyed}:
        members = sorted((v, k, d) for k, p, v, d in keyed if p == part)
        n, levels = len(members), sorted({d for _, _, d in members})
        for rank, (_, k, d) in enumerate(members, start=1):
            pr = (rank - 1) / (n - 1) if n > 1 else 0.0
            ref[k] = (rnd(pr), rnd(rank / n), levels.index(d) + 1)

    df = spark.createDataFrame(
        keyed, "k long, part string, v long, lvl string"
    ).repartition(3)
    got = {
        r["k"]: (r["pr"], r["cd"], r["dr"])
        for r in distributed_rank_stats(
            df, "part", [F.col("v"), F.col("k")], dense_col="lvl", width=width
        )
        .select("k", "pr", "cd", "dr")
        .collect()
    }
    assert got == ref


# ---------------------------------------------------------------------------
# substring dedup rewrite == naive python reference, on random corpora (r7)
# ---------------------------------------------------------------------------


@settings(**SETTINGS)
@given(data=st.data())
def test_remove_repeated_spans_matches_python_reference(spark, data):
    """Property: for random small corpora over a tiny vocabulary (high
    repeat probability), the distributed rewrite equals a direct python
    re-derivation of the same contract — repeated n-gram -> canonical
    min-doc -> covered positions removed elsewhere."""
    import hashlib

    from pyspark.sql import Row

    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        remove_repeated_spans,
    )

    n = data.draw(st.integers(min_value=2, max_value=4), label="ngram_n")
    vocab = ["a", "b", "c"]
    docs = data.draw(
        st.lists(
            st.lists(st.sampled_from(vocab), min_size=0, max_size=12),
            min_size=1,
            max_size=8,
        ),
        label="docs",
    )
    texts = {i: " ".join(toks) for i, toks in enumerate(docs)}

    # python reference
    spans = {}  # ng -> list[(doc, pos)]
    for i, toks in enumerate(docs):
        for p in range(len(toks) - n + 1):
            spans.setdefault(tuple(toks[p : p + n]), []).append((i, p))
    covered = {}  # doc -> set[pos]
    for ng, occ in spans.items():
        doc_ids = {d for d, _ in occ}
        if len(doc_ids) < 2:
            continue
        canon = min(doc_ids)
        for d, p in occ:
            if d != canon:
                covered.setdefault(d, set()).update(range(p, p + n))
    expected = {}
    for i, toks in enumerate(docs):
        if not toks:
            continue  # empty docs have no token rows on either side
        keep = [t for p, t in enumerate(toks) if p not in covered.get(i, set())]
        expected[i] = (
            len(keep),
            len(toks) - len(keep),
            hashlib.md5(" ".join(keep).encode()).hexdigest(),
        )

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in texts.items() if docs[i]],
        "doc_id bigint, text string",
    )
    if not expected:
        return
    got = {
        r["doc_id"]: (r["n_kept"], r["n_removed"], r["cleaned_md5"])
        for r in remove_repeated_spans(df, "text", "doc_id", n=n, min_docs=2).collect()
    }
    assert got == expected


@settings(**SETTINGS)
@given(data=st.data())
def test_dsir_weights_invariant_to_partitioning(spark, data):
    """Property: DSIR weights are a pure function of the corpus content —
    repartitioning the input must not change any weight (catches
    accidental partial-aggregation or fold-order dependence above the
    round(6) quantum)."""
    from pyspark.sql import Row

    from aim357_2019_etl_and_ml_workshop_spark.operators.textanalysis import (
        dsir_importance_weights,
    )

    vocab = ["x", "y", "z", "w"]
    docs = data.draw(
        st.lists(
            st.tuples(
                st.booleans(),
                st.lists(st.sampled_from(vocab), min_size=1, max_size=10),
            ),
            min_size=2,
            max_size=8,
        ),
        label="docs",
    )
    rows = [
        Row(doc_id=i, is_t=t, text=" ".join(toks))
        for i, (t, toks) in enumerate(docs)
    ]
    # the target slice must be non-empty for the weights to be meaningful
    if not any(t for t, _ in docs):
        rows[0] = Row(doc_id=0, is_t=True, text=rows[0].text)
    df = spark.createDataFrame(rows, "doc_id bigint, is_t boolean, text string")
    parts = data.draw(st.integers(min_value=1, max_value=7), label="parts")
    a = sorted(
        map(
            tuple,
            dsir_importance_weights(
                df, "text", "doc_id", target=F.col("is_t")
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            dsir_importance_weights(
                df.repartition(parts), "text", "doc_id", target=F.col("is_t")
            ).collect(),
        )
    )
    assert a == b


@settings(**SETTINGS)
@given(data=st.data())
def test_hash_spans_mode_equals_string_mode(spark, data):
    """Property (VERDICT r07 #2): repeated_ngram_spans(hash_spans=True) —
    xxhash64 frequency pass + string-verified survivors — returns the
    IDENTICAL row set as the string mode on random small corpora over a
    tiny vocabulary (high repeat probability), including the positions,
    md5s, and exact n_docs counts the verify pass must re-derive."""
    from pyspark.sql import Row

    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        repeated_ngram_spans,
    )

    n = data.draw(st.integers(min_value=2, max_value=4), label="ngram_n")
    min_docs = data.draw(st.integers(min_value=2, max_value=3), label="min_docs")
    vocab = ["a", "b", "c"]
    docs = data.draw(
        st.lists(
            st.lists(st.sampled_from(vocab), min_size=0, max_size=12),
            min_size=1,
            max_size=8,
        ),
        label="docs",
    )
    df = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id bigint, text string",
    )
    kw = dict(n=n, min_docs=min_docs)
    string_rows = sorted(
        tuple(r)
        for r in repeated_ngram_spans(df, "text", "doc_id", **kw).collect()
    )
    hash_rows = sorted(
        tuple(r)
        for r in repeated_ngram_spans(
            df, "text", "doc_id", hash_spans=True, **kw
        ).collect()
    )
    assert hash_rows == string_rows


@settings(**SETTINGS)
@given(data=st.data())
def test_semantic_dedup_blocked_equals_joined(spark, data):
    """Property (VERDICT r07 #1): semantic_dedup(strategy='blocked') — the
    block-pair dense BLAS kernel — produces the IDENTICAL (id, cell,
    kept) verdicts as the declarative joined form on random vector sets,
    including duplicate vectors (keep-min-id), zero-norm rows (never
    dropped), and every cell geometry the sign split produces."""
    import pytest
    from pyspark.sql import Row

    from aim357_2019_etl_and_ml_workshop_spark.operators import dedup
    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        semantic_dedup,
    )

    dim = data.draw(st.integers(min_value=2, max_value=6), label="dim")
    nsd = data.draw(st.integers(min_value=0, max_value=2), label="n_sign_dims")
    th = data.draw(st.sampled_from([0.3, 0.7, 0.95]), label="threshold")
    # small discrete component values force duplicates / exact-threshold
    # cosines / zero vectors with realistic probability
    vecs = data.draw(
        st.lists(
            st.lists(
                st.sampled_from([-1.0, 0.0, 0.5, 1.0]),
                min_size=dim,
                max_size=dim,
            ),
            min_size=1,
            max_size=24,
        ),
        label="vecs",
    )
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<double>",
    )
    kw = dict(threshold=th, n_sign_dims=nsd)
    joined = sorted(
        tuple(r)
        for r in semantic_dedup(df, "vec_id", "embedding", **kw).collect()
    )
    # a floor of 1 lets the derived size go tiny (ceil(max|cell|/8)), which
    # splits the largest cell (if it has 2+ rows) into several blocks and
    # so runs both kernel branches (diagonal + cross-block)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "_BLOCK_ROWS_FLOOR", 1)
        blocked = sorted(
            tuple(r)
            for r in semantic_dedup(
                df, "vec_id", "embedding", strategy="blocked", **kw
            ).collect()
        )
    assert blocked == joined


# ---------------------------------------------------------------------------
# portable-hash MinHash == python md5 reference AND == xxhash64 verdicts
# ---------------------------------------------------------------------------


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),  # doc_id
            st.sampled_from([
                "aaa bbb ccc ddd eee",
                "aaa bbb ccc ddd fff",
                "one two three four five six",
                "xyz qrs tuv wxy zab",
                "aaa bbb ccc ddd eee",  # exact-dup weight
            ]),
        ),
        min_size=2,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
    num_hashes=st.sampled_from([8, 16]),
)
def test_minhash_portable_matches_reference_and_xxhash_verdicts(
    spark, docs, num_hashes
):
    """VERDICT r10 #1's property leg: on ANY generated corpus, (a) every
    portable60 signature equals an independent hashlib.md5 reference
    (the reproducibility the DuckDB oracle twin rests on), and (b) with
    threshold high enough that only exact-shingle-set duplicates
    qualify, the portable60 and xxhash64 pipelines emit the IDENTICAL
    verified pair set — equal-signature recall is hash-family-
    independent and exact-Jaccard verification kills every false
    candidate, so the verdicts cannot depend on the family."""
    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        minhash_near_duplicates,
        minhash_signatures,
    )

    df = spark.createDataFrame(docs, "doc_id bigint, text string")

    def p60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def ref_sig(text: str):
        toks = text.split(" ")
        shingles = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        if not shingles:
            return None
        bases = [p60(sh) for sh in shingles]
        return [
            min(p60(f"{b}:{i}") for b in bases) for i in range(num_hashes)
        ]

    got = {
        r.doc_id: list(r.sig)
        for r in minhash_signatures(
            df, "text", "doc_id", num_hashes=num_hashes,
            hash_fn="portable60",
        ).collect()
    }
    for doc_id, text in docs:
        want = ref_sig(text)
        if want is None:
            assert doc_id not in got
        else:
            assert got[doc_id] == want, doc_id

    bands = num_hashes // 2
    verdicts = {}
    for fn in ("portable60", "xxhash64"):
        out = minhash_near_duplicates(
            df, "text", "doc_id", threshold=0.999, num_hashes=num_hashes,
            bands=bands, max_bucket_size=None, hash_fn=fn,
        ).collect()
        verdicts[fn] = {(r.id_a, r.id_b): r.jaccard for r in out}
    # independent truth: pairs with identical distinct-shingle sets
    def sh_set(text):
        toks = text.split(" ")
        return frozenset(" ".join(toks[i:i + 3]) for i in range(len(toks) - 2))

    texts = dict(docs)
    ids = sorted(texts)
    want_pairs = {
        (a, b)
        for ai, a in enumerate(ids)
        for b in ids[ai + 1:]
        if sh_set(texts[a]) and sh_set(texts[a]) == sh_set(texts[b])
    }
    assert set(verdicts["portable60"]) == want_pairs
    assert verdicts["portable60"] == verdicts["xxhash64"]
