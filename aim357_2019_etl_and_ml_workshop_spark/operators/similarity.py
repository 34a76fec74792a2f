"""Similarity search over embedding columns (SURVEY.md §2.12).

Two tiers:
- ``brute_force_topk``: exact cosine top-k — the correctness baseline.
  Queries (small) are broadcast against the candidate scan; dot products run
  JVM-side (zip_with + aggregate fold, double accumulation in array order).
  O(|Q| * N) — fine when |Q| is small, never for all-pairs at scale.
- ``lsh_topk``: random-hyperplane LSH (SimHash-for-vectors). Each vector
  gets a ``n_planes``-bit bucket from the signs of dot products with
  deterministic seeded hyperplanes; candidates come from an equi-join on
  bucket (optionally multi-probe over Hamming-1 neighbors), then exact
  cosine re-ranks candidates only. This is the 100TB path: shuffle is on
  bucket keys, never the full cross product.

Hyperplanes are generated driver-side with a seeded numpy RandomState and
shipped as literal arrays (tiny: n_planes x dim doubles) — deterministic
across runs, no Math.random in the plan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql.functions import pandas_udf

from ..sources.io import cached, local_df


import threading
from contextlib import nullcontext

_GATHER_BC_LOCK = threading.Lock()
_GATHER_BC_CACHE: dict = {}
_GATHER_BC_CACHE_MAX = 16
# Evicted-but-possibly-still-referenced broadcasts: a DataFrame built over
# an evicted gather may not have executed yet, and its JVM plan references
# the broadcast by id — destroy() would make that plan fail at runtime.
# Eviction therefore only unpersist(blocking=False)s (frees executor
# copies; re-fetchable on next use) and parks the Python object here, so
# it neither hits cyclic GC (the churn pathology the memo exists to avoid)
# nor dies while a held plan might need it. The graveyard is KEYED like
# the cache, so a re-requested evicted gather RESURRECTS its parked
# broadcast instead of minting (and re-serializing) a new one — a
# workload ping-ponging over cache_max+1 gathers pays nothing. destroy()
# happens only on graveyard overflow — i.e. a gather evicted
# _GATHER_BC_GRAVE_MAX distinct gathers ago — or via clear_gather_cache().
_GATHER_BC_GRAVE: dict = {}
_GATHER_BC_GRAVE_MAX = 16


def _gather_broadcast(spark, gather: tuple):
    """Memoized ``sc.broadcast`` of a gather triple, keyed by
    (applicationId, content fingerprint). Thread-safe.

    Why memoize: an ALIVE, referenced broadcast costs nothing to later
    unrelated jobs, but an ABANDONED one is expensive — its Python
    ``Broadcast`` object lingers until cyclic GC, and the py4j finalizer
    round-trips plus JVM-side ContextCleaner removal land in the middle of
    whatever runs next. Measured (r6 autopsy in PERF.md, sf0.1; its A/B
    harnesses are removed, see git history): two leaked per-bench-run
    lsh gathers inflated the FOLLOWING query (ivf_ann_topk) from ~1.2 s
    to ~3 s with a multi-run decay as GC drained them, while 8 alive
    referenced broadcasts had zero effect (1.24/1.15/1.12 s at 0/2/8).
    Reusing one broadcast per distinct matrix is also the right 100 TB
    shape — the gather is model/index state, shipped once per executor,
    not once per invocation.

    Fingerprint is blake2b over the raw id+matrix bytes (~1 GB/s — cheap
    next to the collect that built the triple; 100 MB at the sf10 scale
    this path serves). Entries keyed by a stale applicationId (their
    SparkContext was stopped/replaced) are dropped on every call so dead
    apps never occupy LRU slots. LRU eviction defers destroy() through a
    keyed graveyard (see above; evicted gathers resurrect on re-request):
    a library consumer can hold up to ``_GATHER_BC_CACHE_MAX +
    _GATHER_BC_GRAVE_MAX`` distinct unexecuted gather-backed plans (32)
    before a held plan could observe a destroyed broadcast — raise the
    caps before doing that (documented in API.md).

    The lock covers only dict bookkeeping. The expensive steps — the
    ~100 MB ``sc.broadcast`` serialization on a miss, and every
    destroy()/unpersist() py4j round-trip — run OUTSIDE it (same
    build-outside-the-lock pattern as sources.io.memo): a racing thread may
    build the same gather twice, in which case the loser's broadcast is
    destroyed immediately (never exposed, so no plan can hold it)."""
    import hashlib

    ids, mat, _norms = gather
    h = hashlib.blake2b(digest_size=16)
    h.update(np.ascontiguousarray(ids).tobytes())
    h.update(np.ascontiguousarray(mat).tobytes())
    app_id = spark.sparkContext.applicationId
    key = (app_id, h.hexdigest(), mat.shape)

    to_destroy: list = []
    to_unpersist: list = []
    with _GATHER_BC_LOCK:
        for cache in (_GATHER_BC_CACHE, _GATHER_BC_GRAVE):
            for stale in [k for k in cache if k[0] != app_id]:
                to_destroy.append(cache.pop(stale))
        bc = _GATHER_BC_CACHE.pop(key, None)
        if bc is None:
            # resurrect an evicted-but-parked broadcast: unpersist only
            # dropped executor copies, the value re-ships on next use
            bc = _GATHER_BC_GRAVE.pop(key, None)
        if bc is not None:
            _GATHER_BC_CACHE[key] = bc  # re-insert -> most-recently-used
    if bc is None:
        built = spark.sparkContext.broadcast(gather)  # outside the lock
        with _GATHER_BC_LOCK:
            bc = _GATHER_BC_CACHE.pop(key, None) or _GATHER_BC_GRAVE.pop(
                key, None
            )
            if bc is None:
                bc = built
            else:
                # a racer built and published the same gather first; ours
                # was never exposed, so destroying it is safe
                to_destroy.append(built)
            _GATHER_BC_CACHE[key] = bc
    with _GATHER_BC_LOCK:
        while len(_GATHER_BC_CACHE) > _GATHER_BC_CACHE_MAX:
            # dicts iterate in insertion order and hits re-insert, so the
            # first key is the least-recently-used entry
            k = next(iter(_GATHER_BC_CACHE))
            old = _GATHER_BC_CACHE.pop(k)
            to_unpersist.append(old)
            _GATHER_BC_GRAVE[k] = old
        while len(_GATHER_BC_GRAVE) > _GATHER_BC_GRAVE_MAX:
            to_destroy.append(
                _GATHER_BC_GRAVE.pop(next(iter(_GATHER_BC_GRAVE)))
            )
    for old in to_unpersist:
        try:
            old.unpersist(blocking=False)
        except Exception:
            pass
    for old in to_destroy:
        try:
            old.destroy()
        except Exception:
            pass  # context already stopped — nothing to free
    return bc


def clear_gather_cache(destroy: bool = True) -> None:
    """Explicit lifecycle hook: drop every memoized gather broadcast (and
    the eviction graveyard). ``destroy=True`` frees the JVM-side blocks —
    call it only when no returned DataFrame plan is still pending
    execution (engine shutdown, test teardown); ``destroy=False`` just
    forgets the references and lets ContextCleaner reclaim them lazily."""
    with _GATHER_BC_LOCK:
        stale = list(_GATHER_BC_CACHE.values()) + list(
            _GATHER_BC_GRAVE.values()
        )
        _GATHER_BC_CACHE.clear()
        _GATHER_BC_GRAVE.clear()
    if destroy:
        for bc in stale:
            try:
                bc.destroy()
            except Exception:
                pass


def as_double_vec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(x: Column, y: Column) -> Column:
    """Left-to-right fold — deterministic accumulation order."""
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(x: Column) -> Column:
    return F.sqrt(dot(x, x))


def cosine(x: Column, y: Column) -> Column:
    return dot(x, y) / (norm(x) * norm(y))


def brute_force_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "v",
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k by cosine: (q_id, c_id, sim). Ranking uses the ROUNDED
    similarity + id tiebreak so results are reproducible across engines
    (both engines quantize their own fold of the dot product to
    ``round_digits``; the DuckDB oracle twin computes list_dot_product,
    so cross-engine equality rides on the quantization either way).

    Scale shape: the query set is small by the top-k contract, so it is
    broadcast into a mapInPandas kernel as a dense matrix; each candidate
    Arrow batch computes one (batch x dim) @ (dim x |Q|) matmul and emits
    only its LOCAL top-k rows per query. The shuffle therefore carries
    ~batches * |Q| * k rows instead of the |Q| * N pair explosion (the
    previous crossJoin form spent 72 s at sf1 on 8M interpreted
    aggregate-fold dot products; this form is bounded by one numpy matmul
    pass over the candidate scan). A final window merges local winners —
    a correct prefix merge because every global top-k row is top-k within
    its own batch."""
    qrows = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv")
    ).collect()
    if not qrows:
        schema = "q_id bigint, c_id bigint, sim double"
        return candidates.sparkSession.createDataFrame([], schema)
    qids = np.fromiter((r["q_id"] for r in qrows), dtype=np.int64)
    qm = np.stack([np.asarray(r["qv"], dtype=np.float64) for r in qrows])
    qn = np.linalg.norm(qm, axis=1)
    nq = len(qids)

    out_schema = "q_id bigint, c_id bigint, sim double"

    def local_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            cm = np.stack(pdf[vec_col].to_numpy())
            cn = np.linalg.norm(cm, axis=1)
            sims = np.round(
                (cm @ qm.T) / np.outer(cn, qn), round_digits
            )  # (nc, nq)
            out_q, out_c, out_s = [], [], []
            for j in range(nq):
                s = sims[:, j]
                idx = np.nonzero(cids != qids[j])[0]
                if idx.size == 0:
                    continue
                order = np.lexsort((cids[idx], -s[idx]))[:k]
                sel = idx[order]
                out_q.append(np.full(sel.size, qids[j], dtype=np.int64))
                out_c.append(cids[sel])
                out_s.append(s[sel])
            if out_q:
                yield pd.DataFrame(
                    {
                        "q_id": np.concatenate(out_q),
                        "c_id": np.concatenate(out_c),
                        "sim": np.concatenate(out_s),
                    }
                )

    local = candidates.select(id_col, vec_col).mapInPandas(
        local_topk, out_schema
    )
    ranked = local.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(
                F.col("sim").desc(), F.col("c_id")
            )
        ),
    )
    return ranked.where(F.col("rn") <= k).select("q_id", "c_id", "sim")


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).round(6).tolist()


def portable_hyperplanes_int(
    dim: int, n_bits: int, table: int
) -> list[list[int]]:
    """Integer hyperplanes an independent engine can re-derive (r11 — the
    ANN leg of the portable-hash program that flipped SimHash in r6 and
    MinHash this round): component w[t][b][j] = (md5-60bit("t:b:j") %
    2001) - 1000, uniform in [-1000, 1000]. DuckDB spells the identical
    value ``(('0x'||substr(md5(t||':'||b||':'||j),1,15))::BIGINT % 2001)
    - 1000``. Uniform components lose the Gaussian angle calculus's exact
    collision probabilities, but the hash stays a perfectly good locality
    bucket — and the portable twin's point is replayability, with recall
    guaranteed by the exact re-rank and checked by the oracle itself."""
    import hashlib

    return [
        [
            (
                int(
                    hashlib.md5(f"{table}:{b}:{j}".encode()).hexdigest()[:15],
                    16,
                )
                % 2001
            )
            - 1000
            for j in range(dim)
        ]
        for b in range(n_bits)
    ]


def _multi_table_buckets_int(
    df: DataFrame,
    vec_col: str,
    all_planes_int: list[list[list[int]]],
    scale: int = 1_000_000,
) -> DataFrame:
    """Integer-exact twin of _multi_table_buckets: the vector is quantized
    (floor(x * scale) per component — floor, never round: identical
    doubles floor identically in every engine, while round-half ties are
    implementation-defined) and the T*B sign decisions are pure int64
    dot products — associative, so numpy's matmul order, a JVM fold, and
    DuckDB's SUM all produce THE SAME bit, which is what lets a SQL
    oracle replay bucket membership exactly (float dots can flip a
    near-zero sign between summation orders). Overflow-safe by
    construction: |component| <= scale, |weight| <= 1000, dim <= 2^12
    keeps |dot| < 2^52 — and both preconditions are ENFORCED (ADVICE
    r11): dim is asserted here, unit scale is checked per Arrow batch
    (numpy int64 matmul would wrap silently on violation while DuckDB's
    BIGINT widens/errors, silently diverging the bucket bits)."""
    planes_flat = np.array(
        [p for planes in all_planes_int for p in planes], dtype=np.int64
    )
    if planes_flat.shape[1] > 4096:
        raise ValueError(
            f"portable buckets: dim {planes_flat.shape[1]} > 4096 breaks "
            "the int64 overflow-safety bound (|dot| < 2^52)"
        )
    n_tables, n_bits = len(all_planes_int), len(all_planes_int[0])
    weights = (1 << np.arange(n_bits)).astype(np.int64)

    @pandas_udf("array<bigint>")
    def buckets(vs: pd.Series) -> pd.Series:
        v = np.stack(vs.to_numpy())
        amax = float(np.abs(v).max()) if v.size else 0.0
        if amax > 1.0:
            raise ValueError(
                f"portable buckets require unit-scale components "
                f"(|x| <= 1); got max |x| = {amax}. Normalize the "
                "embedding first — int64 dots would overflow silently."
            )
        vq = np.floor(v * scale).astype(np.int64)
        signs = (vq @ planes_flat.T) > 0  # exact: int64 matmul
        b = signs.reshape(len(vq), n_tables, n_bits) @ weights
        return pd.Series(list(b))

    # Nondeterministic marking is an optimizer barrier only (guide §4.4):
    # the posexplode below implies an isnotnull/size filter on the UDF
    # output, and Catalyst pushes that filter beneath the projection by
    # DUPLICATING the ArrowEvalPython node — every vector paid the T*B
    # matmul twice (plan-verified). The function itself stays a pure
    # deterministic map.
    buckets = buckets.asNondeterministic()
    return df.withColumn("_buckets", buckets(F.col(vec_col))).select(
        *[c for c in df.columns],
        F.posexplode(F.col("_buckets")).alias("table", "bucket"),
    )


def lsh_portable_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "v",
    n_tables: int = 16,
    n_bits: int = 4,
    scale: int = 1_000_000,
    dim: int | None = None,
) -> DataFrame:
    """Hyperplane-LSH top-k whose EVERY stage an independent SQL engine
    re-derives (the ANN mirror of minhash_portable_neardups): md5-derived
    integer hyperplanes, integer-exact bucket bits, (table, bucket)
    equi-join candidates, integer-exact quantized-cosine re-rank with id
    tiebreak (quantized_cosine — bit-identical across engines, r12).
    Same plan shape as lsh_topk — query side tiny, candidate side one
    bucket explode, shuffle on bucket keys only; the gauss/xxhash
    variant stays the hot path (broadcast gathers, multiprobe, persisted
    bucket state)."""
    if dim is None:
        first = candidates.select(F.size(vec_col).alias("d")).first()
        dim = int(first["d"])
    planes = [
        portable_hyperplanes_int(dim, n_bits, t) for t in range(n_tables)
    ]
    cb = _multi_table_buckets_int(
        candidates.select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("cv")
        ),
        "cv",
        planes,
        scale,
    ).select("c_id", "table", "bucket")
    # Query-side buckets computed DRIVER-side (r13, same shape as lsh_topk
    # and the IVF probe table): the query batch is tiny by contract, and
    # the distributed form paid a scan + ArrowEvalPython + explode stage
    # chain per invocation. Integer-exact quantization makes this
    # bit-identical by construction (int64 matmul is associative — the
    # full-value lsh_portable_topk oracle pins it); the unit-scale guard
    # is preserved verbatim.
    q_rows = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv")
    ).collect()
    # q_id keeps the caller's id type: the re-rank joins it back to the
    # query and candidate ids, which may be strings.
    qb_schema = (
        f"q_id {queries.schema[id_col].dataType.simpleString()}, "
        "table int, bucket bigint"
    )
    if q_rows:
        qv = np.stack(
            [np.asarray(r["qv"], dtype=np.float64) for r in q_rows]
        )
        amax = float(np.abs(qv).max()) if qv.size else 0.0
        if amax > 1.0:
            raise ValueError(
                f"portable buckets require unit-scale components "
                f"(|x| <= 1); got max |x| = {amax}. Normalize the "
                "embedding first — int64 dots would overflow silently."
            )
        planes_flat = np.array(
            [p for ps in planes for p in ps], dtype=np.int64
        )
        weights = (1 << np.arange(n_bits)).astype(np.int64)
        vq = np.floor(qv * scale).astype(np.int64)
        signs = (vq @ planes_flat.T) > 0
        B = signs.reshape(len(vq), n_tables, n_bits) @ weights
        qb = local_df(
            queries.sparkSession,
            [
                (r["q_id"], t, int(B[i, t]))
                for i, r in enumerate(q_rows)
                for t in range(n_tables)
            ],
            qb_schema,
        )
    else:
        qb = local_df(queries.sparkSession, [], qb_schema)
    pairs = (
        qb.join(cb, ["table", "bucket"])
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id")
        .distinct()
    )
    return _rerank_pairs_quantized(
        pairs, queries, candidates, k, id_col, vec_col, scale
    )


def _int_vec(col: Column, scale: int) -> Column:
    """floor(x*scale) per component, bigint — the engine-portable vector
    quantization every portable-twin stage shares (floor never round:
    identical doubles floor identically in every IEEE engine)."""
    return F.transform(
        col, lambda x: F.floor(x * F.lit(float(scale))).cast("bigint")
    )


def _int_dot(a: Column, b: Column) -> Column:
    """int64 dot of two quantized vectors — associative, so the JVM fold
    equals DuckDB's list_sum regardless of order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def quantized_cosine(a: Column, b: Column, scale: int = 1_000_000) -> Column:
    """Cross-engine EXACT cosine (r12, closes ADVICE r11 medium): both
    vectors are floor(x*scale) int64-quantized, num/norms are exact
    integer dots (< 2^53, so exactly double-representable), and the only
    float ops are two correctly-rounded sqrts, one multiply, one divide,
    one scale-multiply and a floor — every one deterministic IEEE-754 on
    bit-identical inputs, so numpy, the JVM, and DuckDB produce THE SAME
    double by construction. The previous policy (np.round half-even vs
    DuckDB round half-away on independently-folded float cosines) could
    flip a value within float noise of a 5e-7 boundary; floor-of-identical
    -doubles cannot. DuckDB spells it
    ``floor((dot/(sqrt(na2)*sqrt(nb2)))*1000000)/1000000`` over the same
    ``iv`` lists."""
    qa, qb = _int_vec(a, scale), _int_vec(b, scale)
    num = _int_dot(qa, qb).cast("double")
    den = F.sqrt(_int_dot(qa, qa).cast("double")) * F.sqrt(
        _int_dot(qb, qb).cast("double")
    )
    s = F.lit(float(scale))
    return F.floor((num / den) * s) / s


def _rerank_pairs_quantized(
    pairs: DataFrame,
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Re-rank of a (q_id, c_id) candidate pair table under the
    integer-exact quantized cosine (see quantized_cosine) — top-k per
    query by (sim DESC, c_id). Shared by the portable ANN twins; JVM-side
    expressions only (no Python in the re-rank)."""
    qv = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"))
    cv = candidates.select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("cv")
    )
    sims = (
        pairs.join(F.broadcast(qv), "q_id")
        .join(cv, "c_id")
        .select(
            "q_id",
            "c_id",
            quantized_cosine(F.col("qv"), F.col("cv"), scale).alias("sim"),
        )
    )
    ranked = sims.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.col("sim").desc(), "c_id")
        ),
    )
    return ranked.where(F.col("rn") <= k).select("q_id", "c_id", "sim")


def embedding_neardup_portable(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    threshold: float = 0.42,
    n_tables: int = 16,
    n_bits: int = 4,
    scale: int = 1_000_000,
    dim: int | None = None,
) -> DataFrame:
    """LSH-bucketed embedding near-dup whose candidates AND verdicts an
    independent SQL engine replays (completes the portable program for
    the embedding dedup family): integer hyperplane buckets
    (_multi_table_buckets_int — engine-exact sign bits), ONE (table,
    bucket) self equi-join with id_a < id_b, quantized-cosine >=
    threshold verification (quantized_cosine is bit-identical across
    engines by construction — r12, ADVICE r11 — so the boundary cannot
    straddle). Output (id_a, id_b, sim). The Gaussian
    embedding_near_duplicates stays the hot path."""
    if dim is None:
        first = vecs.select(F.size(vec_col).alias("d")).first()
        dim = int(first["d"])
    planes = [
        portable_hyperplanes_int(dim, n_bits, t) for t in range(n_tables)
    ]
    b = _multi_table_buckets_int(
        vecs.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vv")),
        "_vv",
        planes,
        scale,
    ).select("_id", "table", "bucket")
    a_side = b.select(F.col("_id").alias("id_a"), "table", "bucket")
    b_side = b.select(F.col("_id").alias("id_b"), "table", "bucket")
    pairs = (
        a_side.join(b_side, ["table", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    sims = (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            quantized_cosine(F.col("va"), F.col("vb"), scale).alias("sim"),
        )
    )
    return sims.where(F.col("sim") >= threshold)


def ivf_portable_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "v",
    n_cells: int = 16,
    n_probe: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """IVF ANN whose every stage an independent SQL engine re-derives —
    the inverted-file leg of the portable program (SimHash r6, MinHash +
    LSH r11): centroids are the ``n_cells`` smallest-id candidate vectors
    (a deterministic, SQL-replayable pick — the fitted-k-means IVF stays
    the quality path via ivf_topk / ivf_state_recall_check), assignment
    is ARGMIN of integer-exact squared distance over floor-quantized
    vectors (associative int64 sums — no float argmin tie can diverge
    between engines; ties broken by smallest centroid id, which both
    numpy's first-occurrence argmin over id-sorted centroids and SQL's
    ``ORDER BY d, cid`` row_number produce), queries probe their
    ``n_probe`` nearest cells, and the candidate join re-ranks with the
    integer-exact quantized cosine + id tiebreak (quantized_cosine —
    r12). Same plan shape as ivf_topk: centroids broadcast in the kernel
    closure, shuffle on cell keys only."""
    crows = (
        candidates.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_cells)
        .collect()
    )
    cids = np.fromiter((r[0] for r in crows), dtype=np.int64, count=len(crows))
    cint = np.stack(
        [
            np.floor(np.asarray(r[1], dtype=np.float64) * scale).astype(
                np.int64
            )
            for r in crows
        ]
    )

    def int_dists(vs: pd.Series) -> np.ndarray:
        v = np.stack(vs.to_numpy())
        vq = np.floor(v * scale).astype(np.int64)
        # loop over the (few) centroids: exact int64, bounded memory
        d = np.empty((len(vq), len(cids)), dtype=np.int64)
        for c in range(len(cids)):
            diff = vq - cint[c]
            d[:, c] = np.einsum("ij,ij->i", diff, diff)
        return d

    @pandas_udf("bigint")
    def cell_of(vs: pd.Series) -> pd.Series:
        d = int_dists(vs)
        # argmin first occurrence == smallest centroid id (cids sorted)
        return pd.Series(cids[np.argmin(d, axis=1)])

    @pandas_udf("array<bigint>")
    def probe_cells(vs: pd.Series) -> pd.Series:
        d = int_dists(vs)
        order = np.argsort(d, axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(cids[order]))

    # Optimizer barriers (guide §4.4): the cell equi-join's implied
    # isnotnull(cell) and the explode's implied size/not-null filter would
    # otherwise be pushed below these projections by DUPLICATING the
    # ArrowEvalPython nodes — both sides paid the integer distance matrix
    # twice (plan-verified before r12). Pure functions; no result change.
    cell_of = cell_of.asNondeterministic()
    probe_cells = probe_cells.asNondeterministic()
    assign = candidates.select(
        F.col(id_col).alias("c_id"),
        cell_of(F.col(vec_col)).alias("cell"),
    )
    probes = queries.withColumn(
        "_cells", probe_cells(F.col(vec_col))
    ).select(
        F.col(id_col).alias("q_id"),
        F.explode(F.col("_cells")).alias("cell"),
    )
    pairs = (
        probes.join(assign, "cell")
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id")
    )
    return _rerank_pairs_quantized(
        pairs, queries, candidates, k, id_col, vec_col, scale
    )


def _pair_cosine_udf():
    """Vectorized cosine over candidate PAIRS (rows-only paths: embedding
    near-dup, where both sides are large). numpy row-wise dot per Arrow
    batch — NOT used where a DuckDB oracle requires fold-order-identical
    doubles (brute_force_topk keeps the JVM sequential fold)."""

    @pandas_udf("double")
    def pair_cos(qs: pd.Series, cs: pd.Series) -> pd.Series:
        qm = np.stack(qs.to_numpy())
        cm = np.stack(cs.to_numpy())
        num = np.einsum("ij,ij->i", qm, cm)
        den = np.linalg.norm(qm, axis=1) * np.linalg.norm(cm, axis=1)
        return pd.Series(np.round(num / den, 6))

    return pair_cos


# Gather budget shared by every _collect_gather caller: a vector table
# broadcasts whole only while it fits BOTH caps; past either, the caller
# takes its join-attach (or banded) fallback.
_GATHER_MAX_ROWS = 2_000_000
_GATHER_MAX_BYTES = 512 << 20


def _collect_gather(vecs: DataFrame, dim: int) -> tuple | None:
    """Collect a 2-column (id, vector) frame into an id-sorted gather
    triple (ids int64[], matrix float64[n,dim], norms float64[]) iff it
    fits BOTH ``_GATHER_MAX_ROWS`` and ``_GATHER_MAX_BYTES`` — else None
    (caller takes the join-attach fallback). The budget is bytes = rows *
    dim * 8, so a 768-dim table hits its ceiling ~12x earlier than a
    64-dim one at the same row cap (the row-only guard was dim-blind —
    ADVICE r03). One bounded job: ``limit(cap+1).collect()`` both
    measures and fetches, so no separate count() action, and an
    over-budget table aborts after cap+1 rows instead of materializing
    everything on the driver."""
    cap = min(_GATHER_MAX_ROWS, max(_GATHER_MAX_BYTES // (dim * 8), 1))
    rows = vecs.limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    ids = np.fromiter((r[0] for r in rows), dtype=np.int64, count=len(rows))
    mat = (
        np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
        if rows
        else np.zeros((0, dim), dtype=np.float64)
    )
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    return ids, mat, np.linalg.norm(mat, axis=1)


def _pair_cosine_gather(spark, gather: tuple):
    """Exact cosine for (id_a, id_b) pairs against a shared id->vector
    matrix: the candidate-verify path for near-dup dedup, where the pair
    set is large but the vector table is broadcast-sized. Arrow ships two
    bigints per pair instead of two embedding arrays (~60x less transfer
    at 64-dim float64), and the kernel is one gather + row-wise einsum per
    batch. The triple rides a SparkContext broadcast, so each Python
    worker fetches and unpickles ONE copy per executor instead of one per
    task closure (at the 512 MB byte budget the closure copy alone would
    double every task's serialization cost — ADVICE r03)."""
    bc = _gather_broadcast(spark, gather)

    @pandas_udf("double")
    def bcos(ia: pd.Series, ib: pd.Series) -> pd.Series:
        ids, mat, norms = bc.value
        ra = np.searchsorted(ids, ia.to_numpy())
        rb = np.searchsorted(ids, ib.to_numpy())
        num = np.einsum("ij,ij->i", mat[ra], mat[rb])
        return pd.Series(np.round(num / (norms[ra] * norms[rb]), 6))

    return bcos


def _tiled_matmul_pairs(
    spark,
    gather: tuple,
    threshold: float,
    tile_rows: int | None = None,
) -> DataFrame:
    """EXACT all-pairs cosine >= threshold via a distributed tiled matmul
    over a broadcast id->matrix: the work unit is a TILE PAIR (i <= j), and
    each task computes one (tile x tile) dense similarity block at BLAS
    speed, emitting only the rows above threshold.

    Why this exists: banded LSH candidate generation is only subquadratic
    when the similarity gap is strong. At a weak gap (near-isotropic
    embeddings, low threshold) the candidate fraction approaches 1, and
    the bucket self-join degenerates into shuffling ~n^2/2 16-byte pair
    rows through a dedup before a per-pair verify — measured at sf10
    (200k vectors): 20+ min and ~10^10 raw join rows, vs ~2.5 Tflop of
    dense matmul that BLAS clears in seconds. When the whole matrix fits
    the broadcast budget (the same rows x dim x 8 budget every verify
    path uses), the tiled sweep is strictly better: exact (recall 1.0,
    not an approximation), no pair shuffle at all (only T(T+1)/2 tiny
    tile-index rows move), and compute bounded by n^2 d / BLAS-rate.
    Above the budget the caller keeps the banded path, whose cost model
    wins back at strong gaps / distributed matrices.

    ids in ``gather`` are sorted, so tile i's ids all precede tile j's
    for i < j — (id_a < id_b) holds by construction; the diagonal tile
    emits its strict upper triangle. Similarity is round(·, 6), matching
    every other cosine path."""
    ids, mat, norms = gather
    n = len(ids)
    schema = "id_a bigint, id_b bigint, sim double"
    if n == 0:
        return spark.createDataFrame([], schema)
    if tile_rows is None:
        # aim for ~2 tile-pairs per core without degenerating tiny inputs
        tile_rows = max(1024, min(16384, n // 32 + 1))
    n_tiles = (n + tile_rows - 1) // tile_rows
    pairs = [(i, j) for i in range(n_tiles) for j in range(i, n_tiles)]
    bc = _gather_broadcast(spark, gather)

    SB = 1024  # sub-block edge: 8 MB float64 result, cache-resident

    def kern(batches):
        # Cache-blocked evaluation with preallocated sub-block buffers.
        # The naive form materialized each tile's FULL dense result plus
        # np.outer/divide/round temporaries (~1.2 GB per tile): 32
        # concurrent workers saturated DRAM with page-granular write
        # traffic the kernel services (measured 92-98% SYSTEM cpu, 310 s
        # wall at sf10; a 32-process repro without Spark hit 5661 s sys
        # vs 796 s user). Processing each tile in SB x SB sub-blocks
        # keeps every elementwise pass (divide, round, compare) resident
        # in cache, so only dgemm inputs and survivors touch DRAM — the
        # same repro drops to 5.3 s wall / ~0 sys, a ~38x concurrency
        # win. The float sequence per element (matmul with intact inner
        # dim -> divide by norm product -> round(6) -> >= threshold) is
        # unchanged, so the emitted pair set is bit-identical. Sub-blocks
        # are SB-aligned within a tile, so on a diagonal tile (ti == tj)
        # a block pair is entirely above the diagonal (q0 > p0: keep
        # all), entirely at-or-below (q0 < p0: skip), or exactly on it
        # (q0 == p0: strict-upper mask).
        g_ids, g_mat, g_norm = bc.value
        sbuf = np.empty((SB, SB))
        sobuf = np.empty((SB, SB))
        shbuf = np.empty((SB, SB), dtype=bool)
        tri = None
        for pdf in batches:
            out_a, out_b, out_s = [], [], []
            for ti, tj in zip(pdf["ti"].to_numpy(), pdf["tj"].to_numpy()):
                a0, a1 = ti * tile_rows, min((ti + 1) * tile_rows, n)
                b0, b1 = tj * tile_rows, min((tj + 1) * tile_rows, n)
                for p0 in range(a0, a1, SB):
                    p1 = min(p0 + SB, a1)
                    for q0 in range(b0, b1, SB):
                        q1 = min(q0 + SB, b1)
                        if ti == tj and q0 < p0:
                            continue  # strictly below the diagonal
                        full = (p1 - p0 == SB) and (q1 - q0 == SB)
                        if full:
                            s = np.matmul(
                                g_mat[p0:p1], g_mat[q0:q1].T, out=sbuf
                            )
                            o = np.outer(
                                g_norm[p0:p1], g_norm[q0:q1], out=sobuf
                            )
                        else:
                            s = g_mat[p0:p1] @ g_mat[q0:q1].T
                            o = np.outer(g_norm[p0:p1], g_norm[q0:q1])
                        np.divide(s, o, out=s)
                        sims = np.round(s, 6, out=s)
                        if full:
                            hit = np.greater_equal(
                                sims, threshold, out=shbuf
                            )
                        else:
                            hit = sims >= threshold
                        if ti == tj and q0 == p0:
                            if full:
                                if tri is None:
                                    tri = np.triu(
                                        np.ones((SB, SB), dtype=bool), k=1
                                    )
                                np.logical_and(hit, tri, out=hit)
                            else:
                                hit &= np.triu(
                                    np.ones_like(hit, dtype=bool), k=1
                                )
                        ra, rb = np.nonzero(hit)
                        if ra.size:
                            out_a.append(g_ids[p0 + ra])
                            out_b.append(g_ids[q0 + rb])
                            out_s.append(sims[ra, rb].copy())
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "sim": np.concatenate(out_s),
                    }
                )

    tiles = local_df(spark, pairs, "ti int, tj int")
    n_slices = min(len(pairs), spark.sparkContext.defaultParallelism * 2)
    if n_slices > 1:  # a 1-tile input would repartition to SinglePartition
        tiles = tiles.repartition(n_slices)
    return tiles.mapInPandas(kern, schema)


def _local_topk_merge(
    withv: DataFrame,
    qmap: dict,
    k: int,
    gather: tuple | None = None,
    final_dedup: bool = False,
) -> DataFrame:
    """Top-k per query over (q_id, c_id, cv) candidate rows: one Arrow
    batch pass computes the cosines against the broadcast query matrix and
    keeps only each batch's LOCAL top-k per query, and a final window
    merges the ~batches * |Q| * k local winners — correct because a global
    top-k row is top-k within any subset containing it (the
    brute_force_topk merge argument). This replaces ranking a window over
    EVERY candidate pair, whose sort shuffle is linear in the candidate
    set (millions of rows for a k=5 answer). Adjacent-duplicate (q, c)
    rows inside a batch are dropped.

    ``gather`` = (sorted ids, matrix, norms), or a SparkContext Broadcast
    of that triple (preferred at size: one fetched copy per worker, not
    one closure copy per task): candidate vectors come from that
    id->matrix instead of a ``cv`` input column, so the input needs only
    bare (q_id, c_id) rows — no vector-attach join.
    ``final_dedup=True`` additionally dedups (q, c) among the local
    winners before the merge window — required when the caller did NOT
    globally dedup candidate pairs (a pair duplicated across batches
    yields identical local rows, which stay top-k in each batch, so the
    merge remains exact); without it callers must ensure cross-batch
    uniqueness (LSH dedups ids upstream; IVF cells are disjoint)."""
    schema = "q_id bigint, c_id bigint, sim double"
    if not qmap:
        return withv.sparkSession.createDataFrame([], schema)
    ids = sorted(qmap)
    qm = np.stack([np.asarray(qmap[i], dtype=np.float64) for i in ids])
    qn = np.linalg.norm(qm, axis=1)
    index = {i: r for r, i in enumerate(ids)}

    def kern(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qs = pdf["q_id"].to_numpy(dtype=np.int64)
            cs = pdf["c_id"].to_numpy(dtype=np.int64)
            if gather is not None:
                g_ids, g_mat, g_norm = (
                    gather.value if hasattr(gather, "value") else gather
                )
                rows = np.searchsorted(g_ids, cs)
                cm, cn = g_mat[rows], g_norm[rows]
            else:
                cm = np.stack(pdf["cv"].to_numpy())
                cn = np.linalg.norm(cm, axis=1)
            qi = np.fromiter((index[x] for x in qs), np.int64, len(qs))
            sims = np.round(
                np.einsum("ij,ij->i", qm[qi], cm) / (qn[qi] * cn), 6
            )
            order = np.lexsort((cs, -sims, qs))
            qs, cs, sims = qs[order], cs[order], sims[order]
            # identical (q, sim, c) triples sort adjacent -> local dedup
            keep = np.ones(len(qs), dtype=bool)
            keep[1:] = (qs[1:] != qs[:-1]) | (cs[1:] != cs[:-1])
            qs, cs, sims = qs[keep], cs[keep], sims[keep]
            # rank within each q run (runs are contiguous after the sort)
            starts = np.zeros(len(qs), dtype=np.int64)
            new_q = np.flatnonzero(qs[1:] != qs[:-1]) + 1
            starts[new_q] = new_q
            np.maximum.accumulate(starts, out=starts)
            rank = np.arange(len(qs)) - starts
            sel = rank < k
            yield pd.DataFrame(
                {"q_id": qs[sel], "c_id": cs[sel], "sim": sims[sel]}
            )

    cols = ["q_id", "c_id"] if gather is not None else ["q_id", "c_id", "cv"]
    local = withv.select(*cols).mapInPandas(kern, schema)
    if final_dedup:
        local = local.dropDuplicates(["q_id", "c_id"])
    ranked = local.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(
                F.col("sim").desc(), F.col("c_id")
            )
        ),
    )
    return ranked.where(F.col("rn") <= k).select("q_id", "c_id", "sim")


def _multi_table_buckets(
    df: DataFrame,
    vec_col: str,
    all_planes: list[list[list[float]]],
) -> DataFrame:
    """Explode each vector into one (table, bucket) row per hash table.

    The T*B hyperplane projections run as ONE Arrow-batched pandas_udf
    matmul (V @ P.T) — the JVM higher-order-function fold version costs
    T*B interpreted array folds per vector (measured ~7x slower at sf0.1).
    This is the sanctioned Pandas-UDF case: bulk linear algebra."""
    planes_flat = np.array(
        [p for planes in all_planes for p in planes], dtype=np.float64
    )
    n_tables, n_bits = len(all_planes), len(all_planes[0])
    weights = (1 << np.arange(n_bits)).astype(np.int64)

    @pandas_udf("array<bigint>")
    def buckets(vs: pd.Series) -> pd.Series:
        v = np.stack(vs.to_numpy())
        signs = (v @ planes_flat.T) > 0  # (n, T*B)
        b = signs.reshape(len(v), n_tables, n_bits) @ weights  # (n, T)
        return pd.Series(list(b))

    # Optimizer barrier (guide §4.4): the implied not-null/size filter of
    # the posexplode otherwise duplicates the ArrowEvalPython node and the
    # whole scan pays the T*B matmul twice (plan-verified before r12).
    buckets = buckets.asNondeterministic()
    return df.withColumn("_buckets", buckets(F.col(vec_col))).select(
        *[c for c in df.columns],
        F.posexplode(F.col("_buckets")).alias("table", "bucket"),
    )


def _driver_query_buckets(
    qmap: dict,
    all_planes: list,
    multiprobe: int = 0,
) -> list[tuple[int, int, int]]:
    """(q_id, table, bucket) rows for a collected query batch, computed
    on the driver — the SAME stacked numpy projection _multi_table_buckets
    runs in its Arrow UDF (one (|Q|, dim) @ (dim, T*B) matmul; same
    library, machine, and single-thread BLAS pin, so bucket bits match —
    pinned by tests/test_dedup_similarity's equivalence test). Multiprobe
    XOR fan-out and its dedup happen in plain sets instead of an
    explode + distinct exchange.

    Contract: the driver and every executor's Python workers must use
    the same floating-point math and BLAS build (numpy, BLAS library, one
    BLAS thread). A dot within rounding of zero can take another sign
    under another build or thread count, which moves a query to another
    bucket than its candidates' and changes its candidate set. The
    integer-exact lsh_portable_topk has no such dependency."""
    n_tables, n_bits = len(all_planes), len(all_planes[0])
    qids = sorted(qmap)
    if not qids:
        return []
    V = np.stack([qmap[qid] for qid in qids])
    planes_flat = np.array(
        [p for planes in all_planes for p in planes], dtype=np.float64
    )
    weights = (1 << np.arange(n_bits)).astype(np.int64)
    signs = (V @ planes_flat.T) > 0
    B = signs.reshape(len(V), n_tables, n_bits) @ weights
    rows: list[tuple[int, int, int]] = []
    for i, qid in enumerate(qids):
        for t in range(n_tables):
            base = int(B[i, t])
            buckets = {base}
            if multiprobe >= 1:
                buckets |= {base ^ (1 << b) for b in range(n_bits)}
            rows.extend((qid, t, bk) for bk in sorted(buckets))
    return rows


def lsh_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "v",
    n_tables: int = 16,
    n_bits: int = 4,
    seed: int = 42,
    dim: int | None = None,
    multiprobe: int = 0,
    bucket_state: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: classic multi-table hyperplane LSH.

    ``bucket_state`` = a persisted (c_id, table, bucket) index built by
    :func:`lsh_bucket_state` with the SAME (n_tables, n_bits, seed, dim):
    the candidate side skips hashing entirely — the probe reads the
    stored index, so a nightly query batch costs only the query-side
    bucket build + the bucket equi-join + exact re-rank (the persisted
    ANN-state shape of VERDICT r08 next #3; ``candidates`` is still
    required for the re-rank vector gather, which the exact verify needs
    regardless).

    ``multiprobe=1`` additionally probes, per table, every bucket at
    Hamming distance 1 from the query's bucket (the classic multiprobe
    trick): recall rises as if tables were multiplied by ~(n_bits+1)
    WITHOUT growing the candidate index — only the tiny query-side probe
    set fans out. The candidate table, its shuffle, and its storage are
    unchanged; cost is a larger (but still query-bounded) bucket join.

    L=``n_tables`` independent tables of ``n_bits`` hyperplane sign bits;
    candidates = pairs sharing a bucket in ANY table (union via the
    (table, bucket) equi-join), then exact cosine re-ranks candidates only.
    Collision prob for similarity s is 1-(1-p^k)^L with p = 1 - acos(s)/pi —
    tune L up for recall, k up for precision; the join stays linear in
    bucket occupancy either way (never a cross product).

    Parameter choice is data-geometry dependent: the driver's synthetic
    embeddings are near-isotropic (top-5 neighbor cosine ~0.3), where
    recall at k bits costs (1-(1-p^k)^L) with p~0.6 — hence the short-table
    default (k=4, L=16 -> ~0.89 recall, ~2/3 candidate fraction). Clustered
    real-world embeddings (neighbor cosine 0.7+) support k=10-16, L=8 with
    tiny candidate fractions; expose both knobs."""
    # The query batch is collected anyway (qmap feeds the re-rank kernel);
    # collect it FIRST and read dim off the first query vector — the
    # previous ``first()`` probe on the candidate table was one extra
    # driver job per invocation (guide §5: the driver should do no data
    # work it doesn't need). Queries come from the same vector space, so
    # the dimension is identical; empty query batches keep the probe.
    qmap = {
        int(r[0]): np.asarray(r[1], dtype=np.float64)
        for r in queries.select(id_col, vec_col).collect()
    }
    if dim is None:
        # Guarded (r13, ADVICE): a NULL/empty query vector collects as a
        # 0-d/0-len array — using it as dim would surface as an obscure
        # IndexError here or a matmul shape error later. Take the first
        # well-formed query vector; if none, fall back to the (robust)
        # candidate-side size probe.
        for v in qmap.values():
            if v.ndim == 1 and v.size > 0:
                dim = int(v.shape[0])
                break
        if dim is None:
            first = candidates.select(F.size(vec_col).alias("d")).first()
            dim = int(first["d"])
    all_planes = [
        hyperplanes(dim, n_bits, seed + 1000 * t) for t in range(n_tables)
    ]
    if bucket_state is not None:
        c = bucket_state
    else:
        c = _multi_table_buckets(
            candidates.select(
                F.col(id_col).alias("c_id"), F.col(vec_col).alias("cv")
            ),
            "cv",
            all_planes,
        )
    # The bucket join + pair emission + partial pair-dedup all run INSIDE
    # the stage that scans the candidate side (q is broadcast), so their
    # parallelism is whatever the parquet split count happens to be — and
    # the work per split is the EXPLODED pair count, not the input size.
    # Measured at sf10 (local[32], 13 splits): one task sat single-threaded
    # on ~10^8 emitted pairs for 30+ min while 31 cores idled. Trim the
    # exploded frame to bare (c_id, table, bucket) rows (~24 B each — the
    # vectors are re-gathered after the dedup anyway) and spread it across
    # the session's shuffle width: a cheap narrow-row shuffle that buys
    # balanced, full-width pair generation regardless of input splits or
    # bucket skew. HASH-keyed on (c_id, table) — a unique pair per row, so
    # the spread is as even as round-robin — rather than keyless
    # round-robin, whose sort-before-repartition (SPARK-23207, guide §2.5)
    # pays a full local sort of the exploded frame (T x |candidates| rows)
    # purely for retry determinism; the hash key is deterministic from row
    # content, so no sort is needed.
    try:
        n_out = int(
            candidates.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except (TypeError, ValueError):
        n_out = candidates.sparkSession.sparkContext.defaultParallelism
    c = c.select("c_id", "table", "bucket").repartition(
        n_out, F.col("c_id"), F.col("table")
    )
    # Query-side buckets computed DRIVER-side from the already-collected
    # batch (r13 — the IVF probe table took this shape in r12): the
    # distributed form paid a scan + ArrowEvalPython + explode (+ the
    # multiprobe explode/distinct exchange) as two sequential single-task
    # stages per invocation, ~0.6 s of pure stage latency at sf0.1 for a
    # contract-bounded (~100-row) batch that the re-rank kernel collects
    # anyway. The projection is the SAME stacked numpy matmul the UDF
    # runs — one (|Q|, dim) @ (dim, T*B) — same library, machine, and
    # single-thread BLAS pin, so bucket bits are unchanged (pinned by the
    # equality test and the recall-check oracle). Multiprobe XOR fan-out
    # and its dedup happen in plain sets.
    q = local_df(
        candidates.sparkSession,
        _driver_query_buckets(qmap, all_planes, multiprobe),
        "q_id bigint, table int, bucket bigint",
    )
    raw = (
        c.join(F.broadcast(q), ["table", "bucket"])
        .where(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id")
    )
    # Dedup collisions on BARE id pairs first, always: the duplicate
    # factor is n_tables * (multiprobe fan-out) — at (16 tables, 5
    # probes) the raw stream is ~5x the distinct pair set, and both the
    # Arrow transfer into the verify kernel and any vector re-attach
    # scale with what flows past the dedup. (Measured at sf1: skipping
    # the dedup and letting the kernel drop duplicates locally moved 41M
    # rows instead of 8M and was strictly slower.)
    pairs = raw.dropDuplicates(["q_id", "c_id"])
    gather = _collect_gather(candidates.select(id_col, vec_col), dim)
    if gather is not None:
        # Candidate vectors fit the row AND byte budget (one bounded
        # limit+collect job, no count() action): ship only bare
        # (q_id, c_id) pairs through Arrow (16 bytes/row) and gather
        # vectors from a SparkContext-broadcast id->matrix inside the
        # kernel (one copy per worker, not per task) — no vector-attach
        # join, and the verify+rank needs no further exchange before the
        # k-row merge window.
        bc = _gather_broadcast(candidates.sparkSession, gather)
        return _local_topk_merge(pairs, qmap, k, gather=bc)
    # Above the broadcast budget: re-attach each candidate vector once via
    # an equi-join and rank via the same local-top-k merge.
    cvecs = candidates.select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("cv")
    )
    return _local_topk_merge(pairs.join(cvecs, "c_id"), qmap, k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the cluster-pruning alternative to LSH
# ---------------------------------------------------------------------------


def ivf_centroids(
    vectors: DataFrame,
    vec_col: str,
    n_centroids: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    sample_rows: int | None = None,
) -> list[list[float]]:
    """Deterministic mini-KMeans: seed centroids from an id-stride sample
    (reproducible, no RNG in the plan), then ``n_iters`` distributed Lloyd
    steps (assign via broadcast argmin -> mean per cell). Centroid count is
    tiny (sqrt-ish of N); each iteration is one shuffle of partial sums.

    ``sample_rows`` caps the Lloyd passes to a seeded sample of that many
    vectors (the 100TB path: centroids are model state — fit them on a sample
    once, persist, pass via ``ivf_topk(centroids=...)``; the full table is
    only ever touched by the single assign pass)."""
    n = vectors.count()
    stride = max(n // n_centroids, 1)
    # Stride over the id column directly (no full-order window — a global
    # sort of all vectors just to pick k seeds would not survive scale-up).
    # If the id stride under-fills (sparse or non-uniform ids), fall back to
    # a pseudo-random-but-deterministic pick: order by a hash of the id and
    # take k — compiles to TakeOrderedAndProject (per-partition top-k, merge
    # of k*partitions at the driver), never a global sort or window.
    seeds = (
        vectors.where(F.col(id_col) % stride == 0)
        .orderBy(id_col)
        .limit(n_centroids)
        .select(vec_col)
        .collect()
    )
    if len(seeds) < min(n_centroids, n):
        seeds = (
            vectors.orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
            .limit(n_centroids)
            .select(vec_col)
            .collect()
        )
    cents = [list(r[vec_col]) for r in seeds]
    sampled = sample_rows is not None and n > sample_rows
    fit_on = (
        vectors.sample(fraction=min(1.0, sample_rows / n), seed=42)
        if sampled else vectors
    )
    # a sample feeds every Lloyd pass, so it is cached for the fit
    with cached(fit_on) if sampled else nullcontext():
        for _ in range(n_iters):
            assigned = _assign_cells(fit_on, vec_col, cents).select(
                "cell", F.col(vec_col).alias("v")
            )
            dim = len(cents[0])
            sums = assigned.groupBy("cell").agg(
                *[F.sum(F.element_at(F.col("v"), i + 1)).alias(f"s{i}") for i in range(dim)],
                F.count(F.lit(1)).alias("cnt"),
            )
            new = {int(r["cell"]): [r[f"s{i}"] / r["cnt"] for i in range(dim)] for r in sums.collect()}
            cents = [new.get(i, c) for i, c in enumerate(cents)]
    return cents


def _assign_cells(df: DataFrame, vec_col: str, cents: list[list[float]]) -> DataFrame:
    """argmin cell id per vector — one Arrow-batched numpy distance matrix
    per partition batch (ties -> lowest cell id, deterministic)."""
    C = np.array(cents, dtype=np.float64)

    @pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        v = np.stack(vs.to_numpy())
        d = ((v[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d.argmin(axis=1).astype("int32"))

    # Optimizer barrier (guide §4.4): the downstream cell equi-join implies
    # isnotnull(cell); pushing that filter duplicated the ArrowEvalPython
    # node, so every candidate vector paid the distance matrix twice
    # (plan-verified before r12). Pure function; marking changes no result.
    return df.withColumn("cell", assign.asNondeterministic()(F.col(vec_col)))


def ivf_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "v",
    n_centroids: int = 16,
    n_probe: int = 4,
    n_iters: int = 2,
    centroids: list[list[float]] | None = None,
    fit_sample_rows: int | None = None,
) -> DataFrame:
    """IVF ANN: partition vectors into centroid cells, probe each query's
    ``n_probe`` nearest cells, exact cosine re-rank inside probed cells.
    Candidate fraction ~ n_probe/n_centroids; the join is an equi-join on
    cell id (shuffle on cell keys). Centroids are model state — at 100TB,
    fit them once (``ivf_centroids`` on a sample, or pass precomputed
    ``centroids=``) and persist; then the only full-table work is the single
    assign pass + the cell equi-join."""
    cents = centroids if centroids is not None else ivf_centroids(
        candidates, vec_col, n_centroids, n_iters, id_col,
        sample_rows=fit_sample_rows,
    )
    c = _assign_cells(
        candidates.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("cv")),
        "cv",
        cents,
    )
    # probe cells + query vectors are driver-side (queries are small by
    # contract): build the (q_id, cell) probe table directly, no per-row
    # pandas_udf pass over the query frame
    qmap = {
        int(r[0]): np.asarray(r[1], dtype=np.float64)
        for r in queries.select(id_col, vec_col).collect()
    }
    C = np.array(cents, dtype=np.float64)
    probe_rows = []
    for qid in sorted(qmap):
        d = ((qmap[qid][None, :] - C) ** 2).sum(axis=1)
        for cell in np.argsort(d, kind="stable")[:n_probe]:
            probe_rows.append((qid, int(cell)))
    q = local_df(
        candidates.sparkSession, probe_rows, "q_id bigint, cell int"
    )
    pairs = c.join(F.broadcast(q), "cell").where(F.col("c_id") != F.col("q_id"))
    # (q, c) is unique by construction (disjoint cells, distinct probes);
    # rank via local top-k per Arrow batch + tiny merge window instead of
    # a sort shuffle over every probed pair
    return _local_topk_merge(pairs, qmap, k)


# ---------------------------------------------------------------------------
# Persisted ANN index state (VERDICT r08 next #3): fit once, probe nightly
# ---------------------------------------------------------------------------


def ivf_centroid_state(
    vectors: DataFrame,
    vec_col: str = "v",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    n_iters: int = 2,
    sample_rows: int | None = None,
) -> DataFrame:
    """The MODEL-STATE half of a persisted IVF index: (cell, centroid),
    one row per centroid — write it to a parquet keyed store once per
    fitted corpus generation and pass it back to probe-time calls
    (:func:`ivf_assign_batch`, :func:`ivf_topk_from_state`) so nightly
    query batches never re-fit (the ANN mirror of
    dedup.simhash_banding_state; reference lifecycle: the 2am scheduled
    re-run, etl-cfn-2am-trigger.json:259-290, applied to similarity
    search). The fit itself is :func:`ivf_centroids` — deterministic
    given the corpus and parameters, which is what makes the
    provided-state == derived-state contract testable. n_centroids /
    n_iters / sample_rows must match between fit and any re-fit
    comparison; the state carries no metadata, so version the store
    path on them (same caveat as simhash_banding_state)."""
    cents = ivf_centroids(
        vectors, vec_col, n_centroids, n_iters, id_col,
        sample_rows=sample_rows,
    )
    return local_df(
        vectors.sparkSession,
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, centroid array<double>",
    )


def _centroids_from_state(centroid_state: DataFrame) -> list[list[float]]:
    """Collect a (cell, centroid) state table back into the dense list the
    assign/probe kernels take. Cells must be exactly 0..k-1 (the builder's
    invariant) — validated here because a gap would silently shift every
    assignment."""
    rows = centroid_state.select("cell", "centroid").orderBy("cell").collect()
    cells = [int(r["cell"]) for r in rows]
    if cells != list(range(len(cells))):
        raise ValueError(
            f"centroid state cells must be contiguous 0..k-1, got {cells}"
        )
    return [list(r["centroid"]) for r in rows]


def ivf_assign_batch(
    batch: DataFrame,
    centroid_state: DataFrame,
    vec_col: str = "v",
    id_col: str = "vec_id",
) -> DataFrame:
    """Inverted-file rows for ONE ingested batch against persisted
    centroid state: (c_id, cell, cv). Append the result to the stored
    assignment table per accepted batch — the corpus is never re-assigned
    (one Arrow argmin pass over the NEW rows only). The assignment kernel
    is byte-identical to the in-line path (:func:`_assign_cells`), so a
    state built incrementally equals one built in a single shot —
    property-tested, and the registered ivf_state_recall_check query
    hash-checks the equality at conformance SFs."""
    cents = _centroids_from_state(centroid_state)
    return _assign_cells(
        batch.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("cv")),
        "cv",
        cents,
    ).select("c_id", "cell", "cv")


def ivf_topk_from_state(
    assignments: DataFrame,
    centroid_state: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Probe-only IVF top-k over PERSISTED index state: identical search
    semantics (and, given state built from the same fit, identical
    results) to :func:`ivf_topk`, but the per-call work is only the
    query-side probe-table build (driver-side over k centroids), the
    cell equi-join against the stored inverted file, and the exact
    re-rank — no fit, no corpus assign pass. ``assignments`` is the
    (c_id, cell, cv) table maintained by :func:`ivf_assign_batch`;
    carrying cv in the posting rows is the standard IVF layout
    (cluster-local vector storage) and what lets the re-rank run without
    a corpus join at probe time."""
    cents = _centroids_from_state(centroid_state)
    qmap = {
        int(r[0]): np.asarray(r[1], dtype=np.float64)
        for r in queries.select(id_col, vec_col).collect()
    }
    C = np.array(cents, dtype=np.float64)
    probe_rows = []
    for qid in sorted(qmap):
        d = ((qmap[qid][None, :] - C) ** 2).sum(axis=1)
        for cell in np.argsort(d, kind="stable")[:n_probe]:
            probe_rows.append((qid, int(cell)))
    q = local_df(
        assignments.sparkSession, probe_rows, "q_id bigint, cell int"
    )
    pairs = assignments.join(F.broadcast(q), "cell").where(
        F.col("c_id") != F.col("q_id")
    )
    return _local_topk_merge(pairs, qmap, k)


def lsh_bucket_state(
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    n_tables: int = 16,
    n_bits: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """The persisted bucket index of multi-table hyperplane LSH:
    (c_id, table, bucket), n_tables rows per vector. Hyperplanes are
    derived deterministically from (seed, dim, n_bits, n_tables), so the
    state needs no plane table — but those parameters must match at probe
    time (version the store path on them; the state carries no metadata).
    Unlike the IVF posting rows, bucket rows deliberately do NOT carry the
    vector (n_tables copies each would multiply vector storage); probe
    calls re-rank from the corpus table's gather path, which they need
    for the exact verify anyway. Append per accepted batch; pass to
    ``lsh_topk(bucket_state=)`` so nightly probes never re-hash the
    corpus."""
    if dim is None:
        first = candidates.select(F.size(vec_col).alias("d")).first()
        dim = int(first["d"])
    all_planes = [
        hyperplanes(dim, n_bits, seed + 1000 * t) for t in range(n_tables)
    ]
    return _multi_table_buckets(
        candidates.select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("cv")
        ),
        "cv",
        all_planes,
    ).select("c_id", "table", "bucket")
