"""Deduplication operators (SURVEY.md §2.12): exact, canonical-by-hash,
MinHash+LSH near-dup, SimHash near-dup.

All hash computation is JVM-side (xxhash64 / md5 built-ins) — no Python in
the row path. The scale story:

- exact/canonical: one hash-groupBy (map-side partial) — linear, no O(n^2).
- MinHash+LSH: shingles -> k seeded xxhash64 min-hashes -> b bands of r rows
  -> equi-join on (band, band-signature). Only docs sharing a band collide,
  so the candidate set is ~linear for realistic similarity thresholds; the
  exact Jaccard verify runs only on candidates. This is the 100TB path that
  replaces the quadratic all-pairs join.
- SimHash: 64-bit fingerprint from per-token hash bit-votes; near-dup
  candidates via chunk-equality banding (Hamming<=3 over 4x16-bit chunks),
  verified by exact Hamming distance — again join-on-band, never all-pairs.
"""

from __future__ import annotations

import math
import warnings
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Exact dedup: distinct rows (optionally on a column subset). Compiles
    to HashAggregate partial+final — one shuffle of distinct groups only."""
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


def normalize_text(text: Column | str) -> Column:
    """Whitespace-COLLAPSE + lowercase normalization — the canonical
    definition for the paths that normalize (canonical/exact-screen md5
    fingerprints, simhash, unigram/DSIR tokenization, span mining).

    Two scope caveats, both pinned by the DuckDB oracle contracts and
    therefore deliberate, not oversights (code-review r7):
    - it does NOT trim: leading/trailing whitespace leaves one edge space
      (and one empty token after split). Every oracle twin applies the
      identical regexp_replace(lower(text), '\\s+', ' ') — changing this
      breaks hash parity for the md5/simhash families.
    - the MinHash shingle pipeline (word_shingles/exploded_shingles) does
      NOT route through this function at all: it splits RAW text by
      oracle contract (ngram_jaccard_pairs and the recall checks re-derive
      raw-split shingles), so MinHash similarity is case- and whitespace-
      sensitive while the canonical/simhash stages are not. Pipelines
      wanting normalized near-dup should normalize the column BEFORE
      calling the minhash entry points."""
    c = F.col(text) if isinstance(text, str) else text
    return F.lower(F.regexp_replace(c, r"\s+", " "))


def canonical_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Hash-canonical dedup: group by md5(normalized text), keep the lowest
    id as canonical representative + duplicate count."""
    return df.groupBy(F.md5(normalize_text(text_col)).alias("fp")).agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dups")
    )


def token_windows(
    toks: Column,
    n: int,
    gram: Callable[[list[Column]], Column],
    limit: int | None = None,
) -> Column:
    """``gram`` over every run of ``n`` consecutive tokens of the token array
    ``toks``, in order: one element per window start, at most ``limit`` of
    them (the first ones) when it is set. Fewer than ``n`` tokens, or a
    NULL array, gives an empty array. ``gram`` receives the window's ``n``
    tokens as columns, first token first.

    The windows are ``arrays_zip`` of the ``n`` offset ``slice``s of
    ``toks``, and ``gram`` runs in a lambda that reads only its own
    argument. That is the invariant that keeps the kernel linear: ``toks``
    appears only in the window bounds, evaluated once per row, never inside
    the lambda. Catalyst may inline ``split(text, ' ')`` wherever the token
    alias is referenced (collapsing projections, or pushing a filter on
    the output below them); a reference inside the lambda would then
    re-split the document once per window, O(tokens^2) per row."""
    toks = F.coalesce(toks, F.array().cast("array<string>"))
    count = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    if limit is not None:
        count = F.least(count, F.lit(limit))
    windows = F.arrays_zip(*[F.slice(toks, j + 1, count) for j in range(n)])
    return F.transform(windows, lambda w: gram([w[str(j)] for j in range(n)]))


def ngram_array(toks: Column, n: int = 3) -> Column:
    """ALL word n-grams (order-preserving, duplicates kept) of a token
    array column, each the window's tokens joined by one space. Built by
    :func:`token_windows`, so ``toks`` may be any expression (for example
    ``F.split(text, ' ')`` inline): the per-window lambda reads only its
    own window, and the cost stays linear in the token count."""
    return token_windows(toks, n, lambda ws: F.concat_ws(" ", *ws))


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a token array (see ngram_array)."""
    return F.array_distinct(ngram_array(toks, n))


def word_shingles(text_col: str, n: int = 3) -> Column:
    """Shingles straight from a text column name: the raw text split on
    single spaces, then :func:`shingles_from_tokens`."""
    return shingles_from_tokens(F.split(F.col(text_col), " "), n)


def exploded_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) rows: the raw text split on single spaces, then one
    row per distinct n-gram (see ngram_array; the window lambda reads only
    its own window, so the cost is linear in the token count).

    The input is spread to core count first (no-op when the scan already
    has enough splits): this is the corpus entry point of every shingle
    pipeline, and parquet split counts are byte-driven, so a small-bytes/
    high-expansion documents table otherwise explodes — and feeds every
    downstream join — from a couple of partitions (a 6 MB file at sf1 is
    ONE split carrying a 131M-row self-join expansion). Spreading before
    the explode moves doc-sized rows, not shingle-sized output."""
    from ..sources.io import spread_for_cpu

    toks = spread_for_cpu(
        df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("_toks"))
    )
    return toks.select(
        id_col, F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("sh")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sig: array<bigint>) — k min-hashes over word shingles.

    h_i(s) = xxhash64(s, seed=i); signature[i] = min over shingles.
    Deterministic (seeded), JVM-side, one explode + one groupBy.
    ``hash_fn='portable60'`` swaps the family for the md5-derived
    :func:`portable_hash60` (see minhash_signatures_from_shingles)."""
    sh = exploded_shingles(df, text_col, id_col, shingle_n)
    return minhash_signatures_from_shingles(sh, id_col, num_hashes, hash_fn)


def minhash_signatures_from_shingles(
    sh: DataFrame, id_col: str, num_hashes: int = 32,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Signatures from a pre-built (id, sh) shingle table — lets pipelines
    that also need the shingle table for exact verification build it ONCE
    and share it (see minhash_near_duplicates).

    The hash family is derived from ONE string hash: h_i = xxhash64(base, i)
    where base = xxhash64(sh). Hashing the variable-length shingle string k
    times costs k full passes over the bytes; re-hashing the 8-byte base is
    the standard one-strong-hash + derived-family construction with the
    same pairwise-independence behavior for min-hash purposes.

    ``hash_fn='portable60'`` (r11, the SimHash-twin treatment — VERDICT r10
    #1): base = portable_hash60(sh), h_i = portable_hash60(base || ':' || i)
    over the base's DECIMAL string — every value an independent engine can
    recompute from raw text (DuckDB: ``('0x'||substr(md5(cast(bh as
    varchar)||':'||i),1,15))::BIGINT``), which is what puts the whole
    MinHash pipeline under a full value oracle (minhash_portable_neardups).
    xxhash64 stays the hot-path default: one JVM op per hash vs md5's
    hex-string round-trip."""
    if hash_fn == "portable60":
        based = sh.select(id_col, portable_hash60(F.col("sh")).alias("_bh"))
        hashes = based.select(
            id_col,
            *[
                portable_hash60(
                    F.concat(F.col("_bh").cast("string"), F.lit(f":{i}"))
                ).alias(f"h{i}")
                for i in range(num_hashes)
            ],
        )
    elif hash_fn == "xxhash64":
        based = sh.select(id_col, F.xxhash64(F.col("sh")).alias("_bh"))
        hashes = based.select(
            id_col,
            *[
                F.xxhash64(F.col("_bh"), F.lit(i)).alias(f"h{i}")
                for i in range(num_hashes)
            ],
        )
    else:
        raise ValueError(
            f"hash_fn must be 'xxhash64'|'portable60', got {hash_fn!r}"
        )
    agg = hashes.groupBy(id_col).agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )
    return agg.select(
        id_col, F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_candidates(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int | None = 100_000,
    eager_release: bool = False,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id_a, id_b) candidate pairs: docs whose signatures agree on ALL rows
    of at least one band. Join key is (band_idx, band_hash) — pure equi-join,
    shuffle on band buckets, never all-pairs.

    ``max_bucket_size`` is the skew guard the equi-join needs at 100 TB: a
    degenerate band value shared by m documents (boilerplate, empty docs,
    templated text) produces m^2 candidate pairs from that one bucket. Any
    bucket larger than the cap is dropped BEFORE the self-join (one count
    over the band table + a broadcast anti join) — standard LSH practice:
    a bucket that big carries no near-dup signal, only join blow-up. Pass
    None to disable (exact-recall mode for conformance testing).

    ``eager_release=True`` materializes the (small, id-only) candidate
    pairs via localCheckpoint and unpersists the banded signature cache
    before returning — use in long-lived sessions so corpus-scale cached
    frames don't accumulate until LRU eviction. Default (lazy) keeps the
    band cache alive because it feeds BOTH sides of the self-join within
    the caller's single action."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}); "
            "trailing signature hashes would otherwise be silently ignored, "
            "weakening candidate recall"
        )
    rows = num_hashes // bands
    if hash_fn == "portable60":
        # band key = portable60 over the band's min-hashes joined ':' in
        # row order (decimal strings) — DuckDB re-derives it via
        # string_agg(... ORDER BY h_idx) + md5 (minhash_portable_neardups)
        def band_hash(b: int) -> Column:
            return portable_hash60(
                F.concat_ws(
                    ":",
                    *[
                        F.col("sig")[b * rows + r].cast("string")
                        for r in range(rows)
                    ],
                )
            )
    elif hash_fn == "xxhash64":
        def band_hash(b: int) -> Column:
            return F.xxhash64(
                *[F.col("sig")[b * rows + r] for r in range(rows)]
            )
    else:
        raise ValueError(
            f"hash_fn must be 'xxhash64'|'portable60', got {hash_fn!r}"
        )
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[band_hash(b) for b in range(bands)])
        ).alias("band", "bh"),
    ).persist()  # feeds both sides of the band self-join: without this the
    # k-hash signature groupBy executes twice
    _cached_bands = banded
    if max_bucket_size is not None:
        hot = (
            banded.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_bucket_size)
            .select("band", "bh")
        )
        banded = banded.join(F.broadcast(hot), ["band", "bh"], "left_anti")
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bh")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bh")
    cand = (
        a.join(b, ["band", "bh"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    if eager_release:
        cand = cand.localCheckpoint(eager=True)
        _cached_bands.unpersist(blocking=False)
    return cand


# doc_arrs bytes per raw parquet corpus byte, worst case: each text byte
# lands in up to shingle_n shingle strings (~3x) and parquet zstd
# compresses text ~2-3x — so in-memory candidate-doc shingle arrays run
# up to ~8x the file bytes (measured 6.5x at sf10: 59.5 MB parquet ->
# 386 MB shuffled doc_arrs).
_ATTACH_ARRAY_EXPANSION = 8


def _corpus_join_strategy(df) -> str | None:
    """Choose a join strategy for joins whose build side is a
    corpus-scale AGGREGATE (minhash's doc_arrs verify-attach, the
    repeated-span freq/canon/covered/rebuilt tables): the planner's size
    estimate for such aggregates is unusably small, so left alone it
    BROADCASTS them at any scale — at sf10 minhash's ~400 MB doc-array
    collect measurably GC-thrashed the verify kernel and intermittently
    died outright ("Not enough memory to build and broadcast the
    table"), and the sf10 soak recorded the same OOM for
    substring_dedup_rewrite (SOAK_r12 err_adjudication). Guard:
    broadcast only when the raw input bytes times the expansion factor
    fit the session's own autoBroadcastJoinThreshold; otherwise hint
    SHUFFLE_HASH. Every guarded build side has UNIQUE or distinct join
    keys (per-doc arrays, per-ngram aggregates, distinct (id, pos)
    rows), so no build partition exceeds |build rows|/partitions —
    skew-safe at any scale. Unknown size (non-file input) defaults to
    SHUFFLE_HASH: the cost of wrongly shuffling is a few extra stage
    latencies; the cost of wrongly broadcasting is a driver OOM. The
    decision is a partitioning/strategy choice only — results are
    identical either way (pinned by the r13 A/B equality checks and the
    full-value oracles of the span queries / portable minhash twin)."""
    spark = df.sparkSession
    try:
        raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            thr = int(raw)
        except ValueError:
            thr = int(
                spark._jvm.org.apache.spark.network.util.JavaUtils
                .byteStringAsBytes(raw)
            )
    except Exception:
        thr = 10 * 1024 * 1024
    if thr <= 0:
        return "SHUFFLE_HASH"
    try:
        files = df.inputFiles()
        if not files:
            return "SHUFFLE_HASH"
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        total = 0
        for f in files:
            p = jvm.org.apache.hadoop.fs.Path(f)
            total += p.getFileSystem(hconf).getFileStatus(p).getLen()
    except Exception:
        return "SHUFFLE_HASH"
    return None if total * _ATTACH_ARRAY_EXPANSION < thr else "SHUFFLE_HASH"


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    eager_release: bool = False,
    max_bucket_size: int | None = 100_000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates verified with EXACT Jaccard
    over distinct shingles (computed only for candidate pairs via a
    shingle-intersection join restricted by a semi-join on candidates).
    Output: (id_a, id_b, jaccard) with jaccard >= threshold.

    The shingle table feeds the signature pipeline, the per-doc sizes, and
    both sides of the verification join; the candidate table feeds the
    id-restriction and the pair semi-join. Both are persisted so each is
    computed once — the unshared plan re-scanned the source 14 times (plan
    audit). Same posture at 100TB: shingle/candidate tables are the natural
    materialization points of the pipeline.

    ``eager_release=True`` materializes the (tiny) verified pair list and
    unpersists the shingle / candidate-doc-array caches before returning,
    so repeated calls in a long-lived session don't accumulate corpus-scale
    cached frames until LRU eviction. The default (lazy) mode deliberately
    leaves THREE persisted frames alive — ``sh`` (exploded shingles),
    ``cand`` (candidate pairs) and ``doc_arrs`` (candidate-doc shingle
    arrays, r12) — because the returned DataFrame still references them;
    they are materialized by the caller's action and released on session
    cache eviction. Long-lived services should pass eager_release=True.

    ``max_bucket_size`` forwards to minhash_lsh_candidates' hot-bucket
    guard (code-review r7: it was previously unreachable from this entry
    point, so the 100k drop cap was always on with no exact-recall
    opt-out). Pass None for exact-recall conformance runs.

    ``hash_fn='portable60'`` (r11) runs the IDENTICAL pipeline over the
    md5-derived engine-portable hash family — every signature, band key,
    candidate pair, and verified Jaccard becomes re-derivable by an
    independent SQL engine (the minhash_portable_neardups full value
    oracle). The candidate SET differs from xxhash64 mode (different hash
    family → different band collisions), but in the design regime both
    recall every true pair and exact-Jaccard verification makes the
    verdicts identical (pytest-pinned)."""
    sh = exploded_shingles(df, text_col, id_col, shingle_n).persist()
    sigs = minhash_signatures_from_shingles(sh, id_col, num_hashes, hash_fn)
    cand = minhash_lsh_candidates(
        sigs, id_col, num_hashes, bands,
        max_bucket_size=max_bucket_size, eager_release=eager_release,
        hash_fn=hash_fn,
    )
    if not eager_release:
        cand = cand.persist()  # localCheckpoint already materialized it

    # Verify by attaching each candidate doc's (distinct) shingle ARRAY to
    # the pair and computing array_intersect per row — cost linear in
    # |candidates| * doc size. The earlier shared-shingle self-join over
    # candidate DOCS materialized every co-occurring shingle pair among
    # them before the candidate-pair restriction could bite (73M rows for
    # 187k candidate pairs at sf1, a 50 s stage): a hot shingle shared by
    # m candidate docs costs m^2 rows there, vs m array entries here. For
    # extremely long documents the per-pair arrays get wide, but the bytes
    # moved stay O(|cand| * doc_len) — same order as the intersection
    # join's OUTPUT, with the quadratic intermediate gone.
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .union(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh_c = sh.join(F.broadcast(cand_ids), id_col, "left_semi")
    doc_arrs = sh_c.groupBy(id_col).agg(
        F.collect_list("sh").alias("shs"), F.count(F.lit(1)).alias("sz")
    ).persist()  # feeds BOTH pair sides below: without this the semi-join
    # + collect_list aggregation executes twice (once per alias branch —
    # only the map-side exchange was reused; measured ~0.3 s at sf0.1,
    # 2x the array-build work at any scale). Candidate-doc arrays only,
    # MEMORY_AND_DISK — same bound as the verification join itself.
    a = doc_arrs.select(
        F.col(id_col).alias("id_a"),
        F.col("shs").alias("shs_a"),
        F.col("sz").alias("sz_a"),
    )
    b = doc_arrs.select(
        F.col(id_col).alias("id_b"),
        F.col("shs").alias("shs_b"),
        F.col("sz").alias("sz_b"),
    )
    attach_hint = _corpus_join_strategy(df)
    if attach_hint:
        a = a.hint(attach_hint)
        b = b.hint(attach_hint)
    paired = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        # materialize the intersection size in its own projection so the
        # array walk runs once per pair, not once per consumer expression
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("shs_a", "shs_b")).alias("_i"),
            "sz_a",
            "sz_b",
        )
    )
    jac = F.col("_i") / (F.col("sz_a") + F.col("sz_b") - F.col("_i"))
    out = paired.where(jac >= threshold).select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    )
    if eager_release:
        out = out.localCheckpoint(eager=True)
        sh.unpersist(blocking=False)
        doc_arrs.unpersist(blocking=False)
    return out


def portable_hash60(col: Column | str) -> Column:
    """60-bit deterministic hash reproducible across engines: the first 15
    hex chars of standard MD5, parsed as an integer. Spark spells it
    ``conv(substr(md5(x),1,15),16,10)``; DuckDB spells the identical value
    ``('0x'||substr(md5(x),1,15))::BIGINT``. Use where a fingerprint must be
    verifiable by an independent engine (oracle-checked simhash, portable
    sharding); xxhash64 remains the default hot-path hash (one JVM op, no
    hex-string round-trip)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def simhash_fingerprints(
    df: DataFrame, text_col: str, id_col: str, bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, simhash bigint): per-token hash, each bit votes +1/-1,
    fingerprint bit i set iff vote sum > 0. All JVM-side: explode tokens,
    one groupBy with ``bits`` bit-extract sums, bit-OR assembly. The
    +1/-1 vote is computed arithmetically: with ``ones_i`` tokens having
    bit i set out of ``n``, the vote sum is ``ones_i - (n - ones_i)``,
    so ``vote > 0  <=>  2*ones_i > n`` — summing the raw extracted bit
    (two codegen integer ops per token per bit) replaces the earlier
    per-token conditional, which at corpus scale evaluated
    ``bits`` branches per token in the aggregation's partial phase.

    ``hash_fn='portable60'`` swaps xxhash64 for :func:`portable_hash60`
    (use bits<=60) so the whole fingerprint is reproducible in ANSI SQL —
    the oracle-checkable variant."""
    from ..sources.io import spread_for_cpu

    # spread before the explode + bits-wide vote aggregation: the per-token
    # hash and 60 conditional sums are CPU-bound, and a byte-small
    # documents scan otherwise runs them on 1-2 splits (see
    # exploded_shingles; no-op at corpus scale)
    toks = spread_for_cpu(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(F.split(normalize_text(text_col), " ")).alias("tok")
    )
    if hash_fn == "portable60":
        if bits > 60:
            raise ValueError("portable60 provides 60 hash bits; use bits<=60")
        h = toks.select(id_col, portable_hash60("tok").alias("h"))
    elif hash_fn == "xxhash64":
        h = toks.select(id_col, F.xxhash64("tok").alias("h"))
    else:
        raise ValueError(f"hash_fn must be 'xxhash64'|'portable60', got {hash_fn!r}")
    votes = h.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"v{i}")
            for i in range(bits)
        ],
    )
    fp = None
    for i in range(bits):
        # 2*ones > n  <=>  (+1/-1 vote sum) > 0 — exact, no float division
        bit = F.when(
            F.col(f"v{i}") * 2 > F.col("_n"), F.lit(1).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        term = F.shiftleft(bit, i)
        fp = term if fp is None else fp.bitwiseOR(term)
    return votes.select(id_col, fp.alias("simhash"))


def _check_pigeonhole(max_hamming: int, chunks: int, allow_incomplete: bool) -> None:
    """Completeness precondition shared by the simhash banding paths: a
    pair within Hamming distance d is only guaranteed to agree on one of
    ``chunks`` chunks when d <= chunks-1. A larger max_hamming silently
    returns a SUBSET of the true pairs, so it must be opted into."""
    if max_hamming > chunks - 1 and not allow_incomplete:
        raise ValueError(
            f"max_hamming ({max_hamming}) > chunks-1 ({chunks - 1}): "
            "pigeonhole banding is only complete up to chunks-1; pass "
            "allow_incomplete=True to accept banding-recall (subset) "
            "results, or raise chunks"
        )


def _salted_self_pairs(
    keyed: DataFrame,
    key_cols: list,
    a_cols: dict,
    b_cols: dict,
    split_threshold: int | None = None,
    n_salt: int = 8,
) -> DataFrame:
    """Self-join ``keyed`` on ``key_cols`` emitting one row per ordered
    row pair, with COMPLETENESS-PRESERVING skew splitting of hot keys.

    ``a_cols``/``b_cols`` map source column -> output alias for each side
    (e.g. {"id": "id_a", "simhash": "fp_a"}). Caller applies its own
    id_a < id_b (or similar) de-mirroring filter.

    The drop-style guard (``max_bucket_size`` anti-join) changes the
    answer; this one doesn't. A key shared by m rows yields C(m, 2)
    pairs, and a plain equi-join emits ALL of them from the single task
    that owns the key — the classic duplicate-heavy-corpus failure (one
    boilerplate fingerprint shared by 10^5 docs = 5x10^9 pairs on one
    core). Keys above ``split_threshold`` rows are salted: each row gets
    g = hash(its id) mod n_salt, the a-side replicates to every cell
    (g, t) for t in [0, n_salt), the b-side to every cell (t, g), and the
    join adds the cell to the key. A pair (x, y) then meets as (x-as-a,
    y-as-b) in exactly the cell (gx, gy) and as (y-as-a, x-as-b) in
    exactly (gy, gx) — both orientations once each, the same multiplicity
    as the plain self-join, so the caller's existing de-mirror filter
    works unchanged. (A triangular scheme — a-side only at cells >= its
    salt — emits each pair once but ORIENTED BY SALT, and an id_a < id_b
    caller silently loses every pair whose salt order disagrees with its
    id order; caught by the hypothesis property on a 2-identical-doc
    example.) Cost: n_salt replicas per hot row per side buys the hot
    key's C(m, 2) work spread over n_salt^2 independent join cells. Cold
    keys take the plain join untouched.

    When to use: ONLY when hot buckets straggle against idle executors —
    a large cluster with a handful of mega-buckets. On a saturated box it
    never pays, even in its design regime: measured with ONE boilerplate
    key over the sf1 documents background (PERF.md r5; the harness is
    removed, see git history; 32 cores, chunks=4, checksum-equal
    answers), m=10^4 dups is plain 15.7 s vs salted 19.0 s and m=3x10^4
    (4.5x10^8 result pairs) is plain 184 s vs salted 252 s; earlier,
    moderate skew (sf10, hottest buckets ~10^3 rows) was plain 44 s vs
    salted 63-87 s. Two reasons:
    (a) with chunks >= a few hot keys the plain join's hot tasks already
    occupy cores, so splitting buys no parallelism a single box can use;
    (b) plain co-locates both orientations of every hot pair in one task,
    so the map-side partial of the downstream distinct dedups them before
    the shuffle, while salting scatters the twins across cells (gx, gy)
    vs (gy, gx) and pays the full 2x shuffle volume. The crossover needs
    executors-idle-while-hot-tasks-run (cluster-scale), and past m ~ 10^5
    on one key the C(m, 2) answer itself is the problem — run exact/
    canonical dedup first (curation funnel stage 1) so near-dup only sees
    one representative per identical text. Hence opt-in, not default."""
    a = keyed.select(
        *[F.col(src).alias(dst) for src, dst in a_cols.items()], *key_cols
    )
    b = keyed.select(
        *[F.col(src).alias(dst) for src, dst in b_cols.items()], *key_cols
    )
    if split_threshold is None:
        return a.join(b, key_cols)
    counts = (
        keyed.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > split_threshold)
        .select(*key_cols)
    )
    hot = F.broadcast(counts)
    a_id = next(iter(a_cols.values()))  # salt on the a-side id alias
    b_first = next(iter(b_cols.values()))
    cold_pairs = a.join(hot, key_cols, "left_anti").join(
        b.join(hot, key_cols, "left_anti"), key_cols
    )
    g_a = F.pmod(F.xxhash64(F.col(a_id)), F.lit(n_salt)).cast("int")
    g_b = F.pmod(F.xxhash64(F.col(b_first)), F.lit(n_salt)).cast("int")
    all_cells = F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ha = (
        a.join(hot, key_cols, "left_semi")
        .withColumn("_sa", g_a)
        .withColumn("_sb", all_cells)
    )
    hb = (
        b.join(hot, key_cols, "left_semi")
        .withColumn("_sb", g_b)
        .withColumn("_sa", all_cells)
    )
    hot_pairs = ha.join(hb, key_cols + ["_sa", "_sb"]).drop("_sa", "_sb")
    return cold_pairs.unionByName(hot_pairs)


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
    bits: int = 64,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
    eager_release: bool = False,
    allow_incomplete: bool = False,
    skew_split_bucket_size: int | None = None,
    n_salt: int = 8,
) -> DataFrame:
    """Near-dups by Hamming distance <= max_hamming over ``bits``-bit
    simhash. Pigeonhole banding: split into ``chunks`` equal chunks; any
    pair within distance <= chunks-1 agrees on >=1 chunk, so candidates come
    from an equi-join on (chunk_idx, chunk_value); exact popcount verifies.
    With max_hamming <= chunks-1 the banding is COMPLETE (result identical
    to the all-pairs scan) — the basis of the portable-hash oracle twin.

    The banding is TWO-LEVEL: the join key is (chunk, chunk_value, sub,
    sub_value) where ``sub`` ranges over ``max_hamming + 1`` contiguous
    slices of the COMPLEMENT bits (the bits - width bits outside the
    clean chunk). In complete mode, completeness survives by the same
    pigeonhole applied twice — a pair within distance d has a clean
    chunk, and its <= d differing bits all lie in that chunk's
    complement, which is sliced into d+1 groups, so some slice is clean
    too. The refinement exists because a single ``width``-bit chunk is
    a weak partitioner on real fingerprints (token-frequency structure
    clusters chunk values): at sf10 the measured candidate volume fell
    from 4.8e9 pairs (hottest 16-bit bucket: 17.5k docs = 3.1e8 pairs)
    to 8.0e8 with the sub-key, a ~6x cut in join emissions for a 4x
    larger (but still fingerprint-sized) banding table.

    Banding-recall mode (``allow_incomplete=True`` with max_hamming >
    chunks-1) keeps the single-level key. The sub-key WOULD be
    answer-preserving there too (the output is {shares a chunk} ∩
    {ham <= H}, and such pairs keep a clean slice among H+1), but it is
    a measured LOSS: H+1 slices of the complement get so narrow (48/9
    ~= 5 bits at H=8) that the (chunks x (H+1))-fold banding-table
    replication and its join probes overtake the pruning — sf10 went
    74.5 s single-level to 212 s + executor OOM refined. Geometry rule:
    the sub-key pays only while the slices stay wide enough that
    2^slice_width comfortably exceeds the per-bucket row count.

    ``max_bucket_size`` drops chunk buckets larger than the cap before the
    self-join (same skew guard as minhash_lsh_candidates — a chunk value
    shared by m docs yields m^2 candidates). The cap is evaluated on the
    (chunk, chunk_value) bucket in BOTH modes — the documented unit of
    boilerplate degeneracy — not on the refined sub-buckets. Default None
    preserves exact completeness; set it when a real corpus has
    degenerate boilerplate.

    ``eager_release=True``: materialize the verified pair list, unpersist
    the chunked fingerprint cache (see minhash_near_duplicates).

    ``allow_incomplete=True`` opts into max_hamming > chunks-1, where the
    banding surfaces only pairs that happen to share a chunk (banding
    recall, a deliberate approximate mode); without it that combination
    raises.

    ``skew_split_bucket_size``: chunk buckets larger than this are salted
    into n_salt^2 independent join cells instead of being
    dropped (``_salted_self_pairs``; both sides replicate across the full
    salt range so both pair orientations survive the id_a < id_b filter —
    a triangular n(n+1)/2 scheme orients by salt and loses pairs) — the ANSWER-PRESERVING skew guard
    for duplicate-heavy corpora, where one boilerplate chunk value shared
    by m docs otherwise lands C(m, 2) pair emissions on the single task
    owning the key. Composes with (and is usually preferable to)
    max_bucket_size, which drops those buckets and changes the result."""
    if bits % chunks != 0:
        raise ValueError(
            f"bits ({bits}) must be divisible by chunks ({chunks}); the top "
            f"{bits % chunks} fingerprint bits would otherwise never be "
            "banded, silently voiding the pigeonhole completeness guarantee"
        )
    _check_pigeonhole(max_hamming, chunks, allow_incomplete)
    fps = simhash_fingerprints(df, text_col, id_col, bits=bits, hash_fn=hash_fn)
    width = bits // chunks
    mask = (1 << width) - 1
    comp_bits = bits - width
    # two-level key only in complete mode, where the complement slices
    # stay wide (see docstring: recall mode's H+1 slices measured as a
    # replication loss + OOM at sf10); the comp_bits guard keeps
    # degenerate tiny-fingerprint configs on the plain key
    n_sub = max_hamming + 1
    refine = max_hamming <= chunks - 1 and 0 < n_sub <= comp_bits
    if refine:
        base, rem = divmod(comp_bits, n_sub)
        sub_widths = [base + 1] * rem + [base] * (n_sub - rem)
        entries = []
        for c in range(chunks):
            cv = F.shiftright(F.col("simhash"), c * width).bitwiseAND(F.lit(mask))
            # complement of chunk c: the other chunks' values packed
            # little-endian into one non-negative bigint (each part is
            # pre-masked, so arithmetic shift sign-extension never leaks in)
            comp = None
            for j, i in enumerate(k for k in range(chunks) if k != c):
                part = F.shiftright(F.col("simhash"), i * width).bitwiseAND(
                    F.lit(mask)
                )
                term = F.shiftleft(part, j * width)
                comp = term if comp is None else comp.bitwiseOR(term)
            off = 0
            for s, w in enumerate(sub_widths):
                sv = F.shiftright(comp, off).bitwiseAND(F.lit((1 << w) - 1))
                entries.append(
                    F.struct(
                        F.lit(c).alias("chunk"),
                        cv.alias("cv"),
                        F.lit(s).alias("sub"),
                        sv.alias("sv"),
                    )
                )
                off += w
        chunked = fps.select(
            id_col, "simhash", F.explode(F.array(*entries)).alias("_e")
        ).select(id_col, "simhash", "_e.chunk", "_e.cv", "_e.sub", "_e.sv")
        band_key = ["chunk", "cv", "sub", "sv"]
    else:
        chunked = fps.select(
            id_col,
            "simhash",
            F.posexplode(
                F.array(
                    *[
                        F.shiftright(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit(mask))
                        for i in range(chunks)
                    ]
                )
            ).alias("chunk", "cv"),
        )
        band_key = ["chunk", "cv"]
    chunked = chunked.persist()  # feeds BOTH sides of the self-join:
    # without this the full tokenize+hash+60-sum fingerprint subtree
    # executes twice
    _cached_chunks = chunked
    if max_bucket_size is not None:
        hot = (
            chunked.groupBy("chunk", "cv")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_bucket_size * (n_sub if refine else 1))
            .select("chunk", "cv")
        )
        chunked = chunked.join(F.broadcast(hot), ["chunk", "cv"], "left_anti")
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    # The Hamming verification is a per-row expression of (fp_a, fp_b), so
    # it runs BEFORE the de-duplicating distinct: band false positives
    # (pairs agreeing on one chunk but > max_hamming apart) die map-side
    # inside the join stage instead of riding the distinct's shuffle, and
    # the shuffle rows shrink to (id_a, id_b, hamming) — duplicates of a
    # surviving pair carry identical hamming, so distinct-after-filter
    # returns the same set as the previous filter-after-distinct form
    # (oracle-verified unchanged; r5 plan change).
    out = (
        _salted_self_pairs(
            chunked,
            band_key,
            {id_col: "id_a", "simhash": "fp_a"},
            {id_col: "id_b", "simhash": "fp_b"},
            split_threshold=skew_split_bucket_size,
            n_salt=n_salt,
        )
        .where(F.col("id_a") < F.col("id_b"))
        .where(ham <= max_hamming)
        .select("id_a", "id_b", ham.alias("hamming"))
        .distinct()
    )
    if eager_release:
        out = out.localCheckpoint(eager=True)
        _cached_chunks.unpersist(blocking=False)
    return out


def screen_exact_duplicates(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Exact ingest screening, the cheap first stage of batch-vs-corpus
    dedup (see :func:`incremental_near_duplicates` for the near-dup
    stage): flag each incoming doc whose canonical text fingerprint
    (md5 of whitespace-collapsed lowercase) already exists in the corpus.
    Returns (id, fp, is_dup).

    At scale the distinct corpus fingerprint set is the persisted model
    state (16 bytes/doc, appended per accepted batch); the probe is one
    equi-join on the fingerprint — broadcast when the accepted set is
    small, shuffle otherwise, the runtime's choice either way. Text never
    moves: both sides reduce to (id, fp) before the join."""
    corpus_fp = (
        corpus_df.select(F.md5(normalize_text(text_col)).alias("fp"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    newf = new_df.select(
        F.col(id_col), F.md5(normalize_text(text_col)).alias("fp")
    )
    return newf.join(corpus_fp, "fp", "left").select(
        id_col, "fp", F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup")
    )


def simhash_banding_state(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunks: int = 4,
    bits: int = 64,
    hash_fn: str = "xxhash64",
    out_id: str = "corpus_id",
    out_fp: str = "fp_c",
) -> DataFrame:
    """The persisted model state of incremental simhash dedup: each doc's
    fingerprint exploded into its ``chunks`` pigeonhole bands —
    (out_id, out_fp, chunk, cv). Compute it ONCE per accepted corpus
    slice, write it to a parquet keyed store, append the accepted part of
    every ingested batch, and pass it back to
    :func:`incremental_near_duplicates` as ``corpus_banded=`` so nightly
    ingest never re-scans or re-fingerprints the corpus (VERDICT r03 #3:
    at 100 TB the re-derivation IS the job). ``chunks/bits/hash_fn`` must
    match the values used at probe time — the probe can't validate that
    (state carries no metadata), so version the store path on them."""
    if bits % chunks != 0:
        raise ValueError(
            f"bits ({bits}) must be divisible by chunks ({chunks}); the top "
            f"{bits % chunks} fingerprint bits would otherwise never be "
            "banded, silently voiding the pigeonhole completeness guarantee"
        )
    width = bits // chunks
    mask = (1 << width) - 1
    fps = simhash_fingerprints(df, text_col, id_col, bits=bits, hash_fn=hash_fn)
    return fps.select(
        F.col(id_col).alias(out_id),
        F.col("simhash").alias(out_fp),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), i * width)
                    .bitwiseAND(F.lit(mask))
                    for i in range(chunks)
                ]
            )
        ).alias("chunk", "cv"),
    )


def incremental_near_duplicates(
    new_df: DataFrame,
    corpus_df: DataFrame | None,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
    bits: int = 64,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
    corpus_banded: DataFrame | None = None,
    allow_incomplete: bool = False,
) -> DataFrame:
    """Near-dups of an INCOMING batch against an existing corpus — the
    ingest-time dedup shape of a training-data pipeline (each new crawl
    slice is screened against everything already accepted, rather than
    re-running a corpus-wide self-join). Returns
    (new_id, corpus_id, hamming) with hamming <= max_hamming.

    Same pigeonhole-banded simhash as :func:`simhash_near_duplicates` —
    complete at max_hamming <= chunks-1 — but the candidate join is
    new-vs-corpus, not a self-join: candidates = chunk-value equi-join of
    the batch's banded fingerprints against the corpus's. At scale the
    corpus side is the persisted model state: pass
    ``corpus_banded=`` (schema (corpus_id, fp_c, chunk, cv), built by
    :func:`simhash_banding_state` with the SAME chunks/bits/hash_fn and
    appended per accepted batch) and the corpus is never re-scanned or
    re-fingerprinted — the probe reads the state store, and the batch
    side is small, so the runtime picks a broadcast join. Without
    ``corpus_banded`` the banding is derived from ``corpus_df`` in-line
    (fine for one-shot jobs, quadratic-in-corpus over repeated nightly
    calls). ``max_bucket_size`` drops degenerate CORPUS chunk buckets
    (boilerplate mass) before the join, same guard as the self-join
    paths."""
    if bits % chunks != 0:
        raise ValueError(
            f"bits ({bits}) must be divisible by chunks ({chunks}); the top "
            f"{bits % chunks} fingerprint bits would otherwise never be "
            "banded, silently voiding the pigeonhole completeness guarantee"
        )
    _check_pigeonhole(max_hamming, chunks, allow_incomplete)
    if corpus_banded is None and corpus_df is None:
        raise ValueError("pass corpus_df or precomputed corpus_banded state")

    if corpus_banded is not None:
        corpus_ch = corpus_banded
    else:
        corpus_ch = simhash_banding_state(
            corpus_df, text_col, id_col, chunks=chunks, bits=bits,
            hash_fn=hash_fn,
        )
    if max_bucket_size is not None and corpus_banded is None:
        # the hot-bucket count and the anti-join both consume corpus_ch:
        # without materialization the full tokenize+explode+bits-wide-sum
        # fingerprint subtree executes twice (precomputed state is already
        # a materialized store — no need there). Eager localCheckpoint
        # rather than persist(): this function is called per nightly
        # batch, and persist() entries accumulate for the session lifetime
        # unless the caller unpersists, while checkpoint blocks are
        # released when the frame is GC'd (ADVICE r04). Lost property
        # (ADVICE r05): localCheckpoint truncates lineage, so an executor
        # loss mid-probe FAILS the nightly batch instead of recomputing
        # the corpus banding — the operator is idempotent, so the recovery
        # story is "rerun the batch", or pass `corpus_banded=` persisted
        # state (the prescribed at-scale shape) and this branch never runs.
        corpus_ch = corpus_ch.localCheckpoint(eager=True)
    if max_bucket_size is not None:
        hot = (
            corpus_ch.groupBy("chunk", "cv")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_bucket_size)
            .select("chunk", "cv")
        )
        corpus_ch = corpus_ch.join(
            F.broadcast(hot), ["chunk", "cv"], "left_anti"
        )
    new_ch = simhash_banding_state(
        new_df, text_col, id_col, chunks=chunks, bits=bits, hash_fn=hash_fn,
        out_id="new_id", out_fp="fp_n",
    )
    ham = F.bit_count(F.col("fp_n").bitwiseXOR(F.col("fp_c")))
    # Hamming verify BEFORE the distinct (same plan shape as
    # simhash_near_duplicates): band false positives die map-side inside
    # the probe join, and only verified (new_id, corpus_id, hamming)
    # triples — identical across the chunks a pair collides in — reach
    # the de-duplicating shuffle.
    return (
        corpus_ch.join(new_ch, ["chunk", "cv"])
        .where(ham <= max_hamming)
        .select("new_id", "corpus_id", ham.alias("hamming"))
        .distinct()
    )


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    threshold: float = 0.9,
    n_tables: int = 16,
    n_bits: int = 4,
    max_bucket_size: int | None = 100_000,
    broadcast_max_rows: int = 2_000_000,
    broadcast_max_bytes: int = 512 << 20,
) -> DataFrame:
    """Embedding-cosine near-dup (SURVEY.md §2.12), adaptive strategy:
    while the vector matrix fits the broadcast byte budget the answer is
    computed EXACTLY by a distributed tiled matmul sweep (see
    similarity._tiled_matmul_pairs — zero pair shuffle, BLAS-rate, recall
    1.0); past the budget, LSH-bucketed candidate pairs -> exact cosine
    filter at ``threshold``. Same banding trade-off as
    MinHash: candidates come from equi-joins on (table, bucket), never the
    O(n^2) cross product; exact cosine runs only on collisions.
    ``max_bucket_size`` drops degenerate hyperplane buckets (e.g. a mass of
    zero/duplicate vectors) before the self-join — same skew guard as
    minhash_lsh_candidates.

    Scale structure (the sf1 soak exposed the previous form taking 25+ min
    on 20k vectors): at a LOW similarity threshold hyperplane buckets are
    deliberately coarse for recall, so the candidate set is large — the
    plan must therefore move ONLY bare id pairs through the bucket join
    and the pair dedup (16 bytes/row), never the vectors. The exact-cosine
    verify then looks vectors up from a broadcast id->vector matrix inside
    one Arrow-batched numpy kernel (embeddings fit comfortably: verify
    capacity is bounded by the same broadcast budget as every dim-table
    join). Above ``broadcast_max_rows`` OR ``broadcast_max_bytes``
    (rows x dim x 8 — the dim-aware budget) the verify falls back to
    re-attaching vectors with two shuffle joins against the (deduped, so
    1x not n_tables x) pair set."""
    from .similarity import (
        _collect_gather,
        _multi_table_buckets,
        _pair_cosine_udf,
        _tiled_matmul_pairs,
        hyperplanes,
    )

    # Dimension probe over NON-NULL vectors only: a corpus whose first
    # scanned row happens to hold a NULL vector must not read as "empty"
    # (ADVICE r07 — size(NULL) is NULL under non-ANSI, so the old
    # first-row probe silently returned zero pairs). No non-null vector
    # at all genuinely means no pairs by definition; the empty frame
    # derives id_a/id_b from the caller's id type so empty and non-empty
    # results are schema-identical (string ids previously diverged).
    id_type = df.schema[id_col].dataType.simpleString()
    first = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.size(vec_col).alias("d"))
        .first()
    )
    if first is None:
        return df.sparkSession.createDataFrame(
            [], f"id_a {id_type}, id_b {id_type}, sim double"
        )
    # NULL vectors cannot form a pair (their cosine is undefined) and
    # would crash the dense gather / produce NULL hyperplane buckets —
    # drop them from the pair corpus entirely (ADVICE r07 follow-on)
    vecs = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    # Strategy switch on the broadcast budget. Banded LSH is subquadratic
    # only when the similarity gap is strong; at a weak gap (the candidate
    # fraction -> 1) its bucket self-join shuffles ~n^2/2 pair ids through
    # a dedup before any verify — measured 20+ min at sf10 vs seconds for
    # the dense tiled sweep. While the matrix fits the same byte budget
    # every verify path already uses, the tiled matmul is strictly better:
    # EXACT (recall 1.0), zero pair shuffle, BLAS-rate compute. Past the
    # budget (true corpus scale) the banded path below is the plan — its
    # cost is gap-governed, which is the honest LSH contract.
    gather = _collect_gather(
        vecs, broadcast_max_rows, broadcast_max_bytes, int(first["d"])
    )
    if gather is not None:
        return _tiled_matmul_pairs(df.sparkSession, gather, threshold)
    all_planes = [
        hyperplanes(int(first["d"]), n_bits, 42 + 1000 * t) for t in range(n_tables)
    ]
    banded = _multi_table_buckets(vecs, "vec", all_planes).select(
        "id", "table", "bucket"
    ).persist()
    # `banded` is reassigned below (anti-join, repartition); unpersist
    # matches plans by sameResult, so releasing a DERIVED frame is a
    # silent no-op — keep the persisted original (same alias pattern as
    # minhash_lsh_candidates' _cached_bands / simhash's _cached_chunks)
    _cached_buckets = banded
    try:
        if max_bucket_size is not None:
            hot = (
                banded.groupBy("table", "bucket")
                .agg(F.count(F.lit(1)).alias("_n"))
                .where(F.col("_n") > max_bucket_size)
                .select("table", "bucket")
            )
            banded = banded.join(
                F.broadcast(hot), ["table", "bucket"], "left_anti"
            )
        # AQE coalescing trap: every intermediate here is bare ids — a few
        # compressed bytes per row — so size-based coalescing collapses the
        # self-join and the pair-dedup reads to 1-2 partitions, serializing
        # the row-EXPLODING join and the 100M-pair hash dedup (measured:
        # ~200 s on 2 tasks at sf1). Explicit numPartitions repartitions
        # are exempt from coalescing; hash-partitioning by the join /
        # dedup keys means Catalyst reuses the distribution and inserts no
        # further exchange, so each step runs at full width.
        n_wide = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
        banded = banded.repartition(n_wide, "table", "bucket")
        a = banded.select(F.col("id").alias("id_a"), "table", "bucket")
        b = banded.select(F.col("id").alias("id_b"), "table", "bucket")
        cand = (
            a.join(b, ["table", "bucket"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .repartition(n_wide, "id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        # This branch only runs past the broadcast budget (the tiled sweep
        # handled the in-budget case above), so the verify re-attaches each
        # vector once via equi-joins against the deduped pair set.
        va = vecs.select(
            F.col("id").alias("id_a"), F.col("vec").alias("va")
        )
        vb = vecs.select(
            F.col("id").alias("id_b"), F.col("vec").alias("vb")
        )
        pairs = cand.join(va, "id_a").join(vb, "id_b")
        sim = _pair_cosine_udf()("va", "vb")
        out = pairs.select("id_a", "id_b", sim.alias("sim")).where(
            F.col("sim") >= threshold
        )
        out = out.localCheckpoint(eager=True)
    finally:
        _cached_buckets.unpersist(blocking=False)
    return out


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    seed: int = 42,
) -> DataFrame:
    """Seeded per-stratum sampling (training-data curation: rebalance
    sources/languages). Deterministic for a fixed seed+partitioning;
    distributed Bernoulli per row — no driver-side collection."""
    return df.sampleBy(strata_col, fractions, seed)


def deterministic_stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    id_col: str = "doc_id",
) -> DataFrame:
    """Hash-bucket stratified sampling — the REPRODUCIBLE alternative to
    RNG ``sampleBy``: a row is kept iff its id's md5 bucket (first 4 hex
    chars mod 100) falls under its stratum's percentage. The same row is
    selected on every engine, every run, every partitioning — the property
    a training-data pipeline needs for auditable mixes (and what makes the
    DuckDB oracle able to verify row-exact membership). Bucket granularity
    is 1% with a ~0.4% uniformity bias (65536 % 100 != 0) — document the
    realized fractions, don't assume exact. Zero-shuffle projection."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    cut = None
    for stratum, frac in fractions.items():
        pct = int(round(frac * 100))
        branch = F.when(F.col(strata_col) == stratum, F.lit(pct))
        cut = branch if cut is None else cut.when(
            F.col(strata_col) == stratum, F.lit(pct)
        )
    cut = cut.otherwise(F.lit(0)) if cut is not None else F.lit(0)
    return df.where(bucket < cut)


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iters: int = 20,
    small_graph_threshold: int = 1_000_000,
) -> DataFrame:
    """Transitive closure of near-dup pairs -> (id, component) with
    component = min id reachable — the clustering step real dedup needs
    (A~B, B~C => one cluster even if A~C was never scored).

    Hybrid execution: the edge list is the OUTPUT of near-dup detection, so
    it is orders of magnitude smaller than the corpus (pairs above a high
    similarity threshold). When it fits comfortably on the driver
    (<= ``small_graph_threshold`` edges — a bounded, counted collect, same
    spirit as the IVF probe table), a local union-find resolves components
    in one pass with zero shuffle rounds. Above the threshold, distributed
    min-label propagation with pointer jumping: each round every node
    adopts the smallest label among itself and its neighbors, then labels
    compress through one self-join — O(log(diameter)) rounds; each round is
    one join + one groupBy on the edge list, lineage truncated per round.
    Both paths produce the identical (id, min-reachable-id) result."""
    # The undirected pair list is cached ONCE and drives both paths; the
    # directed edge expansion (explode both directions + distinct) is built
    # lazily from it only for the distributed path — union-find needs
    # neither the doubling nor the dedup shuffle (duplicate pairs union to
    # the same root), so the small-graph path collects the raw pairs as-is
    # (guide §2.4: a distinct on an already-unique near-dup pair list was a
    # pure extra exchange, and the explode doubled the collect bytes).
    und = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v")).cache()
    n_pairs = und.count()  # also materializes the cache for either path
    if 2 * n_pairs <= small_graph_threshold:
        # Bounded driver-side union-find (path compression + union by min):
        # one collect of the counted pair list, no per-round shuffles.
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in und.collect():
            u, v = r["u"], r["v"]
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                lo, hi = min(ru, rv), max(ru, rv)
                parent[hi] = lo  # min id wins -> comp = min reachable id
        rows = [(x, find(x)) for x in parent]
        spark = pairs.sparkSession
        id_type = dict(pairs.dtypes)[a_col]
        und.unpersist(blocking=False)  # result is driver-local; the
        # pair cache has no further consumer
        from ..sources.io import local_df

        return local_df(spark, rows, f"id {id_type}, comp {id_type}")
    # Distributed path: NOW build the directed edge list — explode both
    # directions from the cached pair list and dedup once, since every
    # propagation round re-joins it.
    edges = (
        und.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(
                        F.col("v").alias("u"), F.col("u").alias("v")
                    ),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
        .cache()
    )
    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.v == labels.id)
            .groupBy("u")
            .agg(F.min("comp").alias("ncomp"))
        )
        prop = labels.join(
            neighbor_min, labels.id == neighbor_min.u, "left"
        ).select(
            "id",
            F.col("comp").alias("_old"),
            F.least(
                F.col("comp"), F.coalesce(F.col("ncomp"), F.col("comp"))
            ).alias("comp"),
        )
        # pointer jumping: comp <- comp's comp. Plain neighbor propagation
        # needs O(diameter) rounds — a 1000-link near-dup chain at 100TB
        # would mean 1000 shuffle rounds; compressing labels through one
        # extra self-join halves chain heights every round (O(log d)).
        lookup = prop.select(
            F.col("id").alias("_cid"), F.col("comp").alias("_ccomp")
        )
        new_labels = prop.join(
            lookup, prop.comp == F.col("_cid"), "left"
        ).select(
            "id",
            F.coalesce(F.col("_ccomp"), F.col("comp")).alias("comp"),
            (
                F.coalesce(F.col("_ccomp"), F.col("comp")) < F.col("_old")
            ).alias("_changed"),
        )
        # Iterative algorithms MUST truncate lineage each round: without
        # this the logical plan nests once per iteration and analysis cost
        # (and the plan string itself) grows exponentially — observed OOM
        # at sf0.1 by round ~10. localCheckpoint materializes the frame and
        # restarts the plan from its result.
        new_labels = new_labels.localCheckpoint(eager=True)
        # convergence test reads the _changed flag off the materialized
        # frame — no join-with-previous-labels shuffle per round
        changed = new_labels.where(F.col("_changed")).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    edges.unpersist(blocking=False)  # labels are localCheckpoint-
    # materialized; the edge/pair caches have no further consumer
    und.unpersist(blocking=False)
    return labels.select("id", "comp")


def repeated_ngram_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_docs: int = 2,
    hash_spans: bool = False,
) -> DataFrame:
    """Cross-document repeated-span mining — the detection half of exact
    substring-level dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"): every position where an n-token span
    occurs in at least ``min_docs`` DISTINCT documents, with the span's
    document frequency. Downstream removal (cutting the span bytes out of
    each duplicate occurrence) is a per-doc local rewrite once these
    coordinates exist. Output: (id, pos, ngram_md5, n_docs) — identical
    under both modes (property-tested).

    Scale shape: spans are generated inside the scan (one transform over
    the token array — no explode-then-window re-shuffle of the corpus),
    the document-frequency aggregate is hash-partitioned on the span key
    with map-side combine, and only spans that clear ``min_docs`` flow
    back through the equi-join, so the join output is bounded by the
    TRUE duplicate mass, not the corpus.

    ``hash_spans=True`` is the network-bound-cluster mode (VERDICT r07
    #2): the frequency pass hashes each token slice in place (one
    xxhash64 over ``slice(toks, pos+1, n)``, 8 bytes/span through the
    shuffle instead of the joined n-token string). Because a 64-bit
    collision can only MERGE two distinct n-grams (inflating a count,
    never deflating one), hash survivors are a strict superset of true
    survivors; the verify pass rebuilds the actual string and recounts
    ONLY for survivor occurrences (bounded by duplicate mass, with the
    corpus token table pre-filtered by a broadcast semi-join on
    survivor doc ids — the minhash verify pattern), so the output is
    exactly the string mode's. MEASURED (PERF.md r8): 4.8× fewer
    shuffle bytes on a 99%-unique corpus — the post-exact-dedup regime
    this mode is for — but MORE bytes and time on duplicate-heavy
    corpora, where map-side combine already collapses the string
    frequency agg and the verify machinery dominates; the discriminator
    is the corpus's duplicate fraction, which is why the mode is
    opt-in. The string form stays the default because it is what the
    DuckDB oracle re-derives in one pass; both modes share that
    oracle."""
    toks = F.split(normalize_text(text_col), " ")
    if not hash_spans:
        # ngram_array (via token_windows, the module's single window
        # constructor) gives short texts an empty array, so posexplode
        # drops them; posexplode yields the 0-based span position
        spans = df.select(F.col(id_col), toks.alias("_toks")).select(
            id_col,
            F.posexplode(ngram_array(F.col("_toks"), n)).alias("pos", "ng"),
        )
        freq = (
            spans.groupBy("ng")
            .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
            .where(F.col("n_docs") >= min_docs)
        )
        # freq is bounded by the corpus's repeated-distinct-ngram count —
        # a corpus-scale aggregate the planner under-estimates and then
        # broadcasts (the SOAK_r12 sf10 OOM); size the strategy from the
        # input bytes instead (see _corpus_join_strategy)
        hint = _corpus_join_strategy(df)
        if hint:
            freq = freq.hint(hint)
        return spans.join(freq, "ng").select(
            id_col,
            F.col("pos").cast("bigint").alias("pos"),
            F.md5("ng").alias("ngram_md5"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
        )

    tok_df = df.select(F.col(id_col), toks.alias("_toks"))
    # hash-per-position n-gram array: same positions as ngram_array, but
    # each span is one xxhash64 over its n tokens (the same value as over
    # the token slice: xxhash64 folds array elements and arguments alike)
    # — the n-token string never materializes in the frequency pass
    hgrams = token_windows(F.col("_toks"), n, lambda ws: F.xxhash64(*ws))
    hspans = tok_df.select(
        id_col, F.posexplode(hgrams).alias("pos", "hg")
    )
    hsurv = (
        hspans.groupBy("hg")
        .agg(F.count_distinct(F.col(id_col)).alias("_hn"))
        .where(F.col("_hn") >= min_docs)
        .select("hg")
    )
    # same corpus-sized strategy guard as the string mode: the survivor
    # hash set scales with duplicate mass, and a planner-estimated
    # broadcast of it is the driver-OOM mode SOAK_r12 recorded
    hint = _corpus_join_strategy(df)
    if hint:
        hsurv = hsurv.hint(hint)
    cand = hspans.join(hsurv, "hg", "left_semi")
    # verify: rebuild the true string only for survivor occurrences; the
    # token table is pre-filtered to survivor docs so the rebuild join
    # shuffles duplicate-mass rows, never the corpus
    cand_ids = cand.select(id_col).distinct()
    # No broadcast HINT on cand_ids (ADVICE r08 #1): the survivor doc-id
    # set scales with the corpus's duplicate mass, so forcing a broadcast
    # is exactly wrong on the duplicate-heavy corpora where this mode
    # already loses. Left to the planner, AQE's runtime size gate
    # (autoBroadcastJoinThreshold against the ACTUAL aggregate output)
    # broadcasts small survivor sets and falls back to a shuffle
    # semi-join past the budget — the row/byte gate the module's gather
    # paths implement by hand, here for free.
    toks_c = tok_df.join(cand_ids, id_col, "left_semi")
    rebuilt = cand.join(toks_c, id_col).select(
        id_col,
        "pos",
        F.array_join(F.slice(F.col("_toks"), F.col("pos") + 1, n), " ").alias(
            "ng"
        ),
    )
    freq = (
        rebuilt.groupBy("ng")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )
    if hint:
        freq = freq.hint(hint)
    return rebuilt.join(freq, "ng").select(
        id_col,
        F.col("pos").cast("bigint").alias("pos"),
        F.md5("ng").alias("ngram_md5"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
    )


def remove_repeated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_docs: int = 2,
    hash_spans: bool = False,
) -> DataFrame:
    """The REMOVAL half of exact substring-level dedup (Lee et al. 2022):
    rewrite every document with its non-canonical repeated spans cut out.
    For each repeated n-gram the CANONICAL occurrence set is the span's
    minimum doc id (deterministic, engine-independent); in every other
    document, all token positions covered by any occurrence of that span
    are dropped, and the survivors re-join into the cleaned text. Output:
    (id, n_kept, n_removed, cleaned_md5) — the md5 keeps rows narrow
    while hash-pinning the exact rewritten string.

    Scale shape: span mining as in repeated_ngram_spans; covered
    positions explode only from REMOVABLE span occurrences (bounded by
    duplicate mass, not the corpus); the kill-list anti-joins the token
    table on (id, pos); per-doc reassembly is one aggregation whose
    array_sort runs on that doc's own tokens — no global order anywhere."""
    toks_col = F.split(normalize_text(text_col), " ")
    spans = repeated_ngram_spans(
        df, text_col, id_col, n, min_docs, hash_spans=hash_spans
    )
    # canon (one row per repeated ngram), covered (distinct duplicate
    # token positions) and rebuilt (one row per doc) are all corpus-scale
    # aggregates whose planner estimates read tiny — left alone they all
    # BROADCAST (5 BroadcastHashJoins in the sf10 plan), which is the
    # driver-OOM mode SOAK_r12 adjudicated for this query. Size the
    # strategy from the input bytes; build keys are unique/distinct, so
    # the shuffled-hash builds are bounded at any scale.
    hint = _corpus_join_strategy(df)
    canon = spans.groupBy("ngram_md5").agg(F.min(id_col).alias("_canon"))
    if hint:
        canon = canon.hint(hint)
    removable = spans.join(canon, "ngram_md5").where(
        F.col(id_col) != F.col("_canon")
    )
    covered = removable.select(
        id_col,
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + (n - 1))
        ).alias("tpos"),
    ).distinct()
    if hint:
        covered = covered.hint(hint)
    toks = df.select(
        F.col(id_col), F.posexplode(toks_col).alias("tpos", "tok")
    ).where(F.col("tok") != "")
    kept = toks.join(covered, [id_col, "tpos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("tpos", "tok"))
                    ),
                    lambda x: x["tok"],
                ),
                " ",
            )
        ).alias("cleaned_md5"),
    )
    totals = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n_tok"))
    if hint:
        rebuilt = rebuilt.hint(hint)
    return totals.join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        (F.col("_n_tok") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("bigint")
        .alias("n_removed"),
        # a fully-covered doc rebuilds to the empty string
        F.coalesce(F.col("cleaned_md5"), F.md5(F.lit(""))).alias(
            "cleaned_md5"
        ),
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.7,
    n_sign_dims: int = 6,
    strategy: str = "joined",
    eager_release: bool = False,
    cell_col: str | None = None,
) -> DataFrame:
    """SemDeDup-shaped semantic dedup (Abbas et al. 2023): partition the
    embedding space into cells, compare only WITHIN a cell, and drop any
    vector that has a same-cell neighbor with cosine >= threshold and a
    smaller id (keep-min-id — the deterministic, engine-independent
    stand-in for SemDeDup's keep-one-per-near-duplicate-group). Cells
    here are the sign pattern of the first ``n_sign_dims`` dimensions
    (2^n cells) — the deterministic, SQL-re-derivable stand-in for the
    paper's k-means cells; like the paper's clustering, cross-cell
    near-duplicates are out of contract by design (the global-recall
    path is embedding_near_duplicates / embedding_neardup_lsh). Output:
    one verdict row per vector — (id, cell, kept).

    ``cell_col`` swaps the sign cells for a PRECOMPUTED integer cell
    column — the paper's actual fitted cells: join
    ``mlpipeline.cluster_embeddings(df, k=...)`` assignments on and pass
    ``cell_col="cluster"`` (n_sign_dims is then ignored). At corpus
    scale this is the sizing lever: pick k so no cell forces the blocked
    kernel past its memory cap (see below).

    Two strategies, identical verdicts up to round(cos, 6)
    float-boundary effects (contract-twinned by pytest and by the shared
    semantic_dedup_* oracle SQL on observed data; the joined form's
    interpreted left-fold dot product, the BLAS kernel's dgemm
    accumulation order, and Spark's HALF_UP vs numpy's half-to-even
    rounding can in principle flip a verdict whose cosine sits within
    float error of the 6th decimal or exactly on a rounding boundary —
    no tested corpus has produced one, but the guarantee is statistical,
    not bitwise):

    - ``strategy="joined"``: the declarative conformance form — cell
      equi-self-join, one interpreted cosine fold per joined pair. The
      per-cell compare is quadratic by contract (it is exactly what the
      DuckDB oracle re-derives), and every pair costs an interpreted
      zip_with/aggregate fold, so this form is for conformance scales
      only. Norms are computed ONCE per vector before the self-join;
      zero-norm vectors have undefined cosine and are never dropped
      (guarded on BOTH engines: Spark's 0/0 is NULL while DuckDB's IEEE
      0/0 is NaN, which sorts above every threshold).
    - ``strategy="blocked"``: the scale path — cells hash-split into
      blocks sized from the largest measured cell, one Arrow BLAS task
      per block PAIR, per-task memory bounded regardless of the largest
      cell; costs n·B replication through the pair shuffle, and warns
      when the memory cap forces B past _BLOCK_REPL_WARN (the lever is
      then finer cells via ``cell_col``/larger k). See
      _semantic_dedup_blocked.

    ``eager_release=True``: materialize the verdict frame via
    localCheckpoint and unpersist the corpus-scale base cache before
    returning, per the module convention (minhash_near_duplicates) —
    repeated calls in a long-lived session otherwise accumulate cached
    corpus projections until LRU eviction (VERDICT r07 wrong #2 /
    ADVICE r07)."""
    from .similarity import as_double_vec, dot, norm

    if strategy not in ("joined", "blocked"):
        raise ValueError(
            f"strategy must be 'joined' or 'blocked', got {strategy!r}"
        )
    v = as_double_vec(vec_col)
    if cell_col is not None:
        cell = F.col(cell_col)
    else:
        cell = F.lit(0)
        for i in range(n_sign_dims):
            cell = cell + F.when(F.element_at(v, i + 1) > 0, 2**i).otherwise(0)

    if strategy == "blocked":
        return _semantic_dedup_blocked(
            df, id_col, v, cell, threshold, eager_release=eager_release
        )

    # base feeds THREE consumers in one action (both self-join sides +
    # the verdict join); without persist the scan + double-cast + norm
    # fold subtree executes three times (code-review r7 — same dual-
    # consumer persist convention as the banded/shingle tables above)
    base = df.select(
        F.col(id_col),
        v.alias("_v"),
        norm(v).alias("_n"),
        cell.cast("bigint").alias("cell"),
    ).persist()
    a = base.select(
        F.col(id_col).alias("id_a"),
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
        "cell",
    )
    b = base.select(
        F.col(id_col).alias("id_b"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
        "cell",
    )
    sim = F.round(
        dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
    )
    dropped = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .where((F.col("_na") > 0) & (F.col("_nb") > 0))
        .where(sim >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    marked = dropped.select(F.col(id_col), F.lit(True).alias("_drop"))
    out = base.join(marked, id_col, "left").select(
        id_col, "cell", F.col("_drop").isNull().alias("kept")
    )
    if eager_release:
        out = out.localCheckpoint(eager=True)
        base.unpersist(blocking=False)
    return out


# Blocked-strategy sizing bounds (semantic_dedup docstring, VERDICT r08
# wrong #1). REPL_TARGET bounds the pair-shuffle replication factor B =
# ceil(max|cell|/block_rows); ROWS_CAP bounds per-task memory (the kernel
# materializes one block_rows^2 float64 similarity matrix: 4096^2*8 =
# 128 MB, plus two block matrices); REPL_WARN is the "your cells are too
# coarse for this strategy" alarm threshold.
_BLOCK_REPL_TARGET = 8
_BLOCK_ROWS_CAP = 4096
_BLOCK_ROWS_FLOOR = 256
_BLOCK_REPL_WARN = 64


def derive_semantic_block_rows(max_cell: int) -> int:
    """Pick blocked-strategy block_rows from the largest cell's row count:
    the smallest block that keeps replication <= _BLOCK_REPL_TARGET,
    clamped to [_BLOCK_ROWS_FLOOR, _BLOCK_ROWS_CAP] (the memory cap wins).
    Pure function so the sizing policy is unit-testable without a
    corpus."""
    if max_cell is None or max_cell <= 0:
        return _BLOCK_ROWS_CAP
    want = math.ceil(max_cell / _BLOCK_REPL_TARGET)
    return min(_BLOCK_ROWS_CAP, max(_BLOCK_ROWS_FLOOR, want))


def _semantic_dedup_blocked(
    df: DataFrame,
    id_col: str,
    v: Column,
    cell: Column,
    threshold: float,
    eager_release: bool = False,
) -> DataFrame:
    """Skew-proof semantic_dedup(strategy='blocked'): identical verdicts
    to the joined form, but a CELL is no longer a unit of work — each
    cell hash-splits into ceil(|cell|/block_rows) blocks, every block
    PAIR (i <= j) is one Arrow task, and per-task memory is bounded by
    ~2·block_rows vectors + one block_rows² similarity matrix no matter
    how large the largest cell grows (a boilerplate-dominated fitted
    cell at corpus scale would serialize a one-task-per-cell kernel).
    Cost: each vector is replicated to its block's ceil(|cell|/
    block_rows) block pairs, so bytes shuffled are n·B. block_rows is
    derived from the corpus's largest cell so B <= _BLOCK_REPL_TARGET
    under the _BLOCK_ROWS_CAP memory ceiling (derive_semantic_block_
    rows; a fixed size is the VERDICT r08 footgun — block_rows=4 at sf10
    measured ~780 replicas of every vector), and a cell so large that
    the cap forces B past _BLOCK_REPL_WARN warns loudly. The block size
    never affects the verdicts, only the plan.
    Blocks are hash-assigned (xxhash64(id) mod B), so each kernel
    compares ids directly: a row is dropped iff ANY same-cell row with
    a smaller id clears the threshold, exactly the joined form's
    predicate; only dropped ids leave the kernel (the reduce is a
    distinct + anti-join — no verdict-row traffic from pair tasks).
    Zero-norm rows divide to NaN (never drop, never dropped); NULL
    vectors/cells never enter the pair pipeline and fall out kept via
    the final left join."""
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    th = float(threshold)

    # base feeds three consumers (the max-cell sizing aggregate, the
    # replicated pair pipeline, and the final verdict left join) — persist
    # it so the scan + double-cast subtree executes once, mirroring the
    # joined form's multi-consumer persist (ADVICE r08 #2). Released below
    # under eager_release, per the module convention.
    base = df.select(
        F.col(id_col), v.alias("_v"), cell.cast("bigint").alias("cell")
    ).persist()
    vec = base.where(F.col("_v").isNotNull() & F.col("cell").isNotNull())
    counts = vec.groupBy("cell").agg(F.count(F.lit(1)).alias("_n"))
    # Corpus-aware block sizing (VERDICT r08 wrong #1): one tiny aggregate
    # over the per-cell counts (computed on the persisted base, so the
    # extra action rescans nothing) derives block_rows.
    row = counts.agg(F.max("_n").alias("mx")).first()
    max_cell = int(row["mx"]) if row and row["mx"] is not None else 0
    block_rows = derive_semantic_block_rows(max_cell)
    repl = math.ceil(max_cell / block_rows) if max_cell else 1
    if repl > _BLOCK_REPL_WARN:
        warnings.warn(
            f"semantic_dedup(strategy='blocked'): largest cell has "
            f"{max_cell} rows and block_rows={block_rows} replicates each "
            f"of its vectors ~{repl}x through the pair shuffle "
            f"(bound: {_BLOCK_REPL_WARN}). The memory cap forces this "
            "block size — split the corpus into finer cells instead "
            "(cell_col= with a larger k).",
            UserWarning,
            stacklevel=3,
        )
    nb = F.greatest(
        F.lit(1), F.ceil(F.col("_n") / F.lit(block_rows))
    ).cast("int")
    sized = vec.join(
        F.broadcast(counts.select("cell", nb.alias("_nb"))), "cell"
    )
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.col("_nb")).cast("int")
    # replicate each row to every block pair involving its block: a row
    # in block b reaches pair (min(b,t), max(b,t)) once per t
    pairs = sized.select(
        F.col(id_col),
        "_v",
        "cell",
        blk.alias("_b"),
        F.explode(F.sequence(F.lit(0), F.col("_nb") - 1)).alias("_t"),
    ).select(
        id_col,
        "_v",
        "cell",
        F.least("_b", "_t").alias("_i"),
        F.greatest("_b", "_t").alias("_j"),
        F.col("_b").alias("_blk"),
    )

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        mat = np.stack(
            [np.asarray(r, dtype=np.float64) for r in pdf["_v"].to_numpy()]
        )
        norms = np.linalg.norm(mat, axis=1)
        gi, gj = pdf["_i"].iloc[0], pdf["_j"].iloc[0]
        with np.errstate(invalid="ignore", divide="ignore"):
            if gi == gj:
                s = np.round(
                    (mat @ mat.T) / np.outer(norms, norms), 6
                )
                hit = s >= th
                dropped = (hit & (ids[:, None] < ids[None, :])).any(axis=0)
                out = ids[dropped]
            else:
                a = pdf["_blk"].to_numpy() == gi
                ida, idb = ids[a], ids[~a]
                s = np.round(
                    (mat[a] @ mat[~a].T)
                    / np.outer(norms[a], norms[~a]),
                    6,
                )
                hit = s >= th
                lt = ida[:, None] < idb[None, :]
                out = np.concatenate(
                    [
                        ida[(hit & ~lt).any(axis=1)],  # some b-id < a-id
                        idb[(hit & lt).any(axis=0)],  # some a-id < b-id
                    ]
                )
        return pd.DataFrame({id_col: out})

    dropped = (
        pairs.groupBy("cell", "_i", "_j")
        .applyInPandas(kern, f"{id_col} {id_type}")
        .distinct()
    )
    marked = dropped.select(F.col(id_col), F.lit(True).alias("_drop"))
    out = base.join(marked, id_col, "left").select(
        id_col, "cell", F.col("_drop").isNull().alias("kept")
    )
    if eager_release:
        out = out.localCheckpoint(eager=True)
        base.unpersist(blocking=False)
    return out


def cluster_representatives(
    components: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
) -> DataFrame:
    """Pick ONE surviving document per near-dup cluster — the step that
    turns clustering into an actual dedup'd corpus. Representative = the
    member with the largest ``weight_col`` (ties -> lowest id), the common
    keep-longest policy for near-dup groups.

    ``components`` is (id, comp) from connected_components; ``docs``
    supplies the weight. One broadcast-able join (components ~ cluster
    members only, far smaller than the corpus) + one map-side-combinable
    min_by aggregation — no windows, no per-cluster sorts.

    The argmax is spelled min_by over (-weight, id) rather than max_by
    over (weight, -id): identical result for numeric ids, but -id on a
    STRING id silently casts to NULL (non-ANSI), which made the tie-break
    nondeterministic for the string id types connected_components
    explicitly supports (code-review r7). weight_col stays numeric by
    contract, so -weight is always well-defined."""
    m = components.join(
        docs.select(F.col(id_col).alias("id"), F.col(weight_col).alias("_w")),
        "id",
    )
    return (
        m.groupBy(F.col("comp").alias("cluster"))
        .agg(
            F.min_by(
                "id", F.struct((-F.col("_w")).alias("_negw"), F.col("id"))
            ).alias("rep_doc_id"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )
