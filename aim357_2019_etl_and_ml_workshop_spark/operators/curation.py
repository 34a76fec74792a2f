"""End-to-end corpus curation (the LLM training-data hygiene pipeline):

    quality gate -> language filter -> exact dedup -> near-dup dedup
    -> benchmark decontamination -> PII redaction -> sequence packing

Every stage is deterministic and engine-portable (portable-hash simhash,
md5 exact-dedup keys, fixed thresholds on ROUNDED ratios), so the whole
funnel — documents surviving each stage — is recomputable in ANSI SQL and
hash-checked by the DuckDB oracle (queries.curation_funnel).

Scale posture per stage (what each costs at 100 TB):
- quality/language: narrow projection + filter, zero shuffles, codegen.
- exact dedup: one keyed window over md5(normalized text) — one shuffle
  of (hash, id), no text movement.
- near-dup: portable-60bit simhash, pigeonhole-banded candidate equi-join
  + popcount verify (operators.dedup) — linear, never all-pairs.
- decontamination: distinct doc 5-grams vs a tiny eval-set shingle list —
  broadcast semi join against the corpus side. Shingling is capped at the
  first ``decontam_prefix`` gram positions per doc (documented prefix
  decontamination — bounds the explode at any document length).
- redaction: regexp_replace chain inside the scan's codegen stage.
- packing: running token sum windowed by (stratum, bounded shard) — no
  partition ever exceeds ``shard_size`` rows regardless of strata skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .dedup import normalize_text, simhash_near_duplicates, token_windows
from ..sources.io import cached, local_df
from .textanalysis import redact_pii


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    lang: str = "en",
    min_tokens: int = 5,
    max_tokens: int = 10_000,
    max_non_alpha: float = 0.3,
    eval_mod: int = 97,
    decontam_prefix: int = 200,
    budget_tokens: int = 512,
    shard_size: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """Run the full curation pipeline; returns ``(funnel, curated)``.

    ``funnel``: one row per stage — (stage_idx, stage, n) where n is the
    surviving document count (for the final ``packed`` row: the number of
    distinct packed bins). ``curated``: the surviving documents with
    redacted text and (shard, bin) packing assignment.

    Stage counting costs ONE pass for the whole linear prefix: the
    input/quality/language/exact counts ride as ``observe()`` metric nodes
    in the plan and are all populated by the (eager) simhash
    materialization job — no dedicated count actions (VERDICT r02 #6).
    The branching neardup stage keeps a bounded ``count()`` on its cached
    frame: it feeds two consumers, and a metrics node below a
    multi-consumer branch would be double-executed before its cache
    fills. The decontam count rides that stage's eager checkpoint job as
    another ``observe()`` metric. 4 jobs total (was 8); every count is
    still recomputed independently by the oracle SQL."""
    from pyspark.sql import Observation

    o_input, o_quality, o_lang, o_exact, o_decontam = (
        Observation() for _ in range(5)
    )
    norm = normalize_text(text_col)
    base = docs.select(
        F.col(id_col), F.col(text_col), F.col(lang_col), norm.alias("_norm")
    ).observe(o_input, F.count(F.lit(1)).alias("n"))
    n_tok = F.size(F.split(F.col("_norm"), " "))
    n_chars = F.length(F.col(text_col))
    alpha = F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z]", ""))
    non_alpha = F.when(n_chars == 0, F.lit(0.0)).otherwise(
        F.round((n_chars - alpha).cast("double") / n_chars, 4)
    )
    feat = base.select(
        "*", n_tok.alias("_n_tok"), non_alpha.alias("_non_alpha")
    )

    quality = feat.where(
        (F.col("_n_tok") >= min_tokens)
        & (F.col("_n_tok") <= max_tokens)
        & (F.col("_non_alpha") <= max_non_alpha)
    ).observe(o_quality, F.count(F.lit(1)).alias("n"))
    # single consumer (exact) — no persist needed now that its count is an
    # in-plan metric instead of a separate action
    by_lang = quality.where(F.col(lang_col) == lang).observe(
        o_lang, F.count(F.lit(1)).alias("n")
    )

    # exact dedup: keep the lowest id per normalized-content hash (keyed
    # window — shuffles only (hash, id), never the text payload)
    w = Window.partitionBy(F.md5(F.col("_norm")))
    exact = (
        by_lang.withColumn("_min_id", F.min(id_col).over(w))
        .where(F.col(id_col) == F.col("_min_id"))
        .drop("_min_id")
        .observe(o_exact, F.count(F.lit(1)).alias("n"))
    )

    # decontamination: docs sharing any 5-gram (first `decontam_prefix`
    # positions) with the eval pseudo-benchmark (id % eval_mod == 0 over
    # the ORIGINAL corpus) are dropped, as are the eval docs themselves
    def grams(frame: DataFrame) -> DataFrame:
        toks = F.split(normalize_text(text_col), " ")
        t = frame.select(F.col(id_col), toks.alias("_toks"))
        sh = token_windows(
            F.col("_toks"), 5, lambda ws: F.concat_ws(" ", *ws),
            limit=decontam_prefix,
        )
        return t.select(id_col, F.explode(sh).alias("sh")).distinct()

    eval_sh = (
        grams(docs.where(F.col(id_col) % eval_mod == 0))
        .select("sh")
        .distinct()
    )

    # `exact` feeds the simhash pipeline and the anti join, and the cache
    # guards the observe nodes above from re-execution (later actions
    # read the cache, so each metric fires exactly once)
    with cached(exact) as exact:
        # near-dup dedup over survivors: portable simhash pairs (complete
        # at max_hamming <= chunks-1), keep-lowest-id rule — any doc
        # appearing as the higher id of a pair is dropped
        pairs = simhash_near_duplicates(
            exact, text_col, id_col, max_hamming=3, chunks=4,
            bits=60, hash_fn="portable60",
        )
        drop_ids = pairs.select(F.col("id_b").alias(id_col)).distinct()
        with cached(exact.join(drop_ids, id_col, "left_anti")) as neardup:
            # count the neardup cache in first, so decontam's two neardup
            # consumers read it
            n_neardup = neardup.count()
            contaminated = (
                grams(neardup).join(F.broadcast(eval_sh), "sh")
                .select(id_col)
                .distinct()
            )
            # checkpointed: the returned `curated` frame is built on it
            decontam = (
                neardup.where(F.col(id_col) % eval_mod != 0)
                .join(contaminated, id_col, "left_anti")
                .observe(o_decontam, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True)
            )

    # redaction (transform, not a filter) + packing assignment
    packed = decontam.select(
        F.col(id_col),
        redact_pii(text_col).alias(text_col),
        F.col(lang_col),
        F.floor(F.col(id_col) / shard_size).cast("bigint").alias("shard"),
        F.col("_n_tok").alias("n_tok"),
    )
    pw = (
        Window.partitionBy(lang_col, "shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curated = packed.withColumn(
        "bin",
        F.floor((F.sum("n_tok").over(pw) - F.col("n_tok")) / budget_tokens)
        .cast("bigint"),
    )

    # the other counts come from the observation metrics, populated by
    # the eager simhash and decontam jobs (.get does not block here)
    n_packs = curated.select(lang_col, "shard", "bin").distinct().count()
    spark: SparkSession = docs.sparkSession
    funnel = local_df(spark, 
        [
            (0, "input", o_input.get["n"]),
            (1, "quality", o_quality.get["n"]),
            (2, "language", o_lang.get["n"]),
            (3, "exact_dedup", o_exact.get["n"]),
            (4, "neardup_dedup", n_neardup),
            (5, "decontaminated", o_decontam.get["n"]),
            (6, "packed_bins", n_packs),
        ],
        "stage_idx int, stage string, n bigint",
    )
    return funnel, curated


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    order_by: list | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain/source balancing: keep at most ``cap`` rows per group,
    preferring rows by ``order_by`` (default: lowest id — fully
    deterministic). The standard cure for a crawl dominated by a few hot
    domains.

    Scale: one partitioned window keyed on the group column — rows shuffle
    once on the key, each partition ranks locally. For a pathologically hot
    single group (one domain = billions of rows), pre-filter with a
    per-partition local limit first (AQE skew splitting also applies); the
    window never spans more than one group."""
    from pyspark.sql import Window

    order = order_by if order_by is not None else [F.col(id_col)]
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )


def leakage_safe_split(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_pct: int = 8,
    n_buckets: int = 10,
) -> DataFrame:
    """Cluster-aware train/test split: near-duplicate documents must land
    in the SAME split (a near-dup of a training doc in the eval split is
    leakage — the split analogue of benchmark decontamination). Portable
    simhash pairs -> connected components -> every member inherits its
    cluster representative's hash bucket; singletons bucket on their own
    id. The bucket is the engine-portable md5-prefix integer mod
    ``n_buckets`` (the deterministic_stratified_sample pattern), so the
    whole assignment is reproducible in SQL AND near-uniform: buckets
    deviate from 1/n_buckets by at most n_buckets/65536 (~0.015% at
    n_buckets=10). The earlier single-hex-digit ascii bucket mapped 16
    values onto 10 buckets and skewed the realized split to ~75/25.

    Scale: the pair/component work runs on the near-dup subgraph only
    (tiny relative to the corpus); the corpus-wide work is one left join
    against the component map + a zero-shuffle projection."""
    from .dedup import connected_components

    pairs = simhash_near_duplicates(
        docs, text_col, id_col, max_hamming=3, chunks=4,
        bits=60, hash_fn="portable60",
    )
    comps = connected_components(pairs).withColumnRenamed("id", id_col)
    withc = docs.select(F.col(id_col)).join(comps, id_col, "left").select(
        id_col, F.coalesce(F.col("comp"), F.col(id_col)).alias("comp")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("comp").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % n_buckets
    )
    return withc.select(
        id_col,
        "comp",
        F.when(bucket < train_pct, F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def temperature_mixture_weights(
    docs: DataFrame,
    source_col: str = "source",
    mass_col: str = "n_chars",
    alpha: float = 0.3,
    budget_docs: int = 10_000,
) -> DataFrame:
    """Temperature-scaled source mixing weights — the standard recipe for
    balancing a multi-source training corpus (sampling probability
    proportional to p_s^alpha, alpha in (0, 1], so low-resource sources are
    oversampled relative to their natural share without ever outranking a
    larger source). Per source s with natural share p_s = mass_s / total:

        weight_s     = p_s^alpha / sum_t p_t^alpha
        oversample_s = weight_s / p_s          (>1 for small sources)
        expected_docs_s = weight_s * budget_docs

    ``mass_col`` is the share denominator (characters by default — a
    byte/token-mass proxy; pass a token-count column for token-exact
    mixing). alpha=1 recovers natural sampling; alpha->0 approaches
    uniform-per-source.

    Scale: one groupBy over the corpus (map-side partial — only
    |sources| rows shuffle), then two unpartitioned-window sums over the
    per-source frame for the normalizations. That single-partition window
    is over the MIXTURE TABLE, not the corpus: even a web-crawl domain
    mixture (~10^7 rows of three numerics) is one small task, and the
    corpus is scanned exactly once. Floats are round(6) so cross-engine
    pow/sum fold-order stays invisible (the tfidf_exact idiom)."""
    per_src = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(mass_col)).alias("mass"),
    )
    w_all = Window.partitionBy()
    p = F.col("mass").cast("double") / F.sum("mass").over(w_all)
    shared = per_src.withColumn("_p", p).withColumn(
        "_pa", F.pow(F.col("_p"), F.lit(float(alpha)))
    )
    weight = F.col("_pa") / F.sum("_pa").over(w_all)
    return shared.select(
        "source",
        "n_docs",
        "mass",
        F.round(F.col("_p"), 6).alias("p_source"),
        F.round(weight, 6).alias("weight"),
        F.round(weight / F.col("_p"), 6).alias("oversample"),
        F.round(weight * F.lit(float(budget_docs)), 4).alias("expected_docs"),
    )


def adaptive_quality_gate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    pct: float = 0.25,
) -> DataFrame:
    """Per-group ADAPTIVE quality threshold: instead of one global cutoff
    (which silently discriminates against languages/sources whose score
    distribution sits lower — short-token scripts, diacritics counted as
    non-alpha), each group keeps documents at or above its OWN ``pct``
    quantile of the score. Score here is mean token length (chars/token,
    the cheap fluency proxy); the operator shape — score, per-group exact
    interpolated percentile, broadcast threshold join, verdict — is the
    point, and any scalar score column slots in.

    Scale shape: one scan computes the score; the per-group percentile
    aggregates to |groups| rows (exact `percentile` is a sort-based
    buffer PER GROUP, bounded because groups are few and the agg is
    map-side partial); thresholds broadcast back — the corpus is never
    shuffled, only scanned twice (score recompute beats materializing a
    corpus-wide score column at 100 TB). round(4) on score/threshold
    keeps the cross-engine hash stable (DuckDB twin: quantile_cont).

    Null policy: docs with a NULL group form their OWN bucket (an
    equi-join on the raw group column would silently drop them — the
    exact disappear-without-a-verdict failure this operator exists to
    prevent), and a NULL score (NULL text) yields kept=false, never a
    NULL verdict a `where(kept)` consumer would silently treat as a
    drop-without-record."""
    from .textanalysis import token_count

    # Validate up front (ADVICE r07): an out-of-range or NaN pct used to
    # flow into the percentile aggregate and surface as a runtime
    # AnalysisException far from the call site; the typed-literal form
    # below also closes the f-string interpolation path entirely.
    pct = float(pct)
    if not 0.0 <= pct <= 1.0:
        raise ValueError(
            f"pct must be within [0, 1], got {pct!r}"
        )

    # mean token length — same token definition as quality_features /
    # token_count, so this score and the quality_features mean_tok_len
    # column cannot drift apart
    score = F.round(
        F.length(text_col).cast("double") / token_count(text_col), 4
    )
    gkey = F.coalesce(F.col(group_col).cast("string"), F.lit("<null>"))
    scored = docs.select(
        F.col(id_col),
        F.col(group_col),
        gkey.alias("_g"),
        score.alias("score"),
    )
    thresholds = scored.groupBy("_g").agg(
        F.round(F.percentile(F.col("score"), F.lit(pct)), 4).alias("thresh")
    )
    return scored.join(F.broadcast(thresholds), "_g").select(
        id_col,
        group_col,
        "score",
        "thresh",
        F.coalesce(F.col("score") >= F.col("thresh"), F.lit(False)).alias(
            "kept"
        ),
    )


def _bloom_grams(
    frame: DataFrame, text_col: str, id_col: str, n: int, prefix: int
) -> DataFrame:
    """(id, _toks, _p, h): one row per capped gram position, hash-only —
    the gram STRING is never materialized here (hash-first trick from
    queries.decontaminate_ngram_overlap); callers build it for survivors
    via ``_bloom_gram_str``."""
    d = frame.select(
        F.col(id_col), F.split(F.lower(text_col), " ").alias("_toks")
    )
    gram_hash = token_windows(
        F.col("_toks"), n, lambda ws: F.xxhash64(*ws), limit=prefix
    )
    return d.select(id_col, "_toks", F.posexplode(gram_hash).alias("_p", "h"))


def _bloom_gram_str(pos, n: int):
    return F.concat_ws(" ", F.slice(F.col("_toks"), pos, n))


def derive_bloom_m_bits(
    n_reference_docs: int,
    prefix: int = 200,
    bits_per_gram: int = 10,
    cap_bits: int = 1 << 28,
) -> int:
    """Corpus-aware Bloom sizing (the r9-measured footgun: a FIXED m_bits
    saturates silently once the reference outgrows it — at sf10 the 2^20
    default let ~100% of corpus grams through, paying the bitmap build
    for zero verify-shuffle savings; same failure class as the blocked
    semantic-dedup block_rows fix). Gram count is upper-bounded by
    n_docs * prefix (exact when docs exceed the prefix cap, conservative
    otherwise — oversizing only costs bitmap bytes); ~10 bits/gram at
    k=2 gives fpp ~3%. The cap (default 2^28 bits = 32 MiB bitmap, the
    broadcast budget) degrades fpp gracefully instead of failing: past
    ~27M reference grams the filter thins, never lies — and at that
    point the honest scale move is sharding the reference (several
    bitmaps probed in sequence), not a bigger broadcast."""
    est_grams = max(1, int(n_reference_docs) * int(prefix))
    m = min(max(est_grams * bits_per_gram, 1 << 16), cap_bits)
    return (m + 63) // 64 * 64


def bloom_decontaminate_state(
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    prefix: int = 200,
    m_bits: int | None = None,
    k: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Materializable decontamination state for a reference corpus — the
    Bloom mirror of ``dedup.simhash_banding_state`` / the persisted ANN
    index: build once (or append per reference batch), write both frames
    to parquet, and let every nightly corpus batch probe the STORED state
    with zero reference re-scan.

    Returns ``(words, pairs)``:
    - ``words``: (m_bits, k, n, prefix, bucket, word) — the Bloom bitmap
      as its non-zero 64-bit words. The FULL build geometry — bitmap
      shape (m_bits/k) AND gram shape (n/prefix) — rides every row
      (RLE-compressed to nothing at rest) so the state is
      SELF-DESCRIBING: the probe path validates all four against its own
      arguments and fails fast on a mismatch, because probing a bitmap
      built with a different bitmap geometry OR hashing different grams
      (another n, a shorter prefix) would produce Bloom false NEGATIVES
      — missed contamination, a correctness error, not a performance one
      (ADVICE r09 #1: n/prefix were originally unstored, so a mismatched
      probe hashed different grams silently).
    - ``pairs``: distinct (h, sh) gram hash/string pairs — the verify
      side. Incremental reference batches append here and re-derive
      ``words`` with one bit_or re-aggregation over (this batch's probes
      UNION the stored words), never re-reading old reference text.
    """
    if m_bits is None:
        # one cheap count action; correctness is insensitive to the
        # estimate (see derive_bloom_m_bits), so the upper bound is fine
        m_bits = derive_bloom_m_bits(reference.count(), prefix)
    if m_bits % 64 != 0 or m_bits <= 0:
        raise ValueError(
            f"m_bits must be a positive multiple of 64, got {m_bits}"
        )
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    ref = _bloom_grams(reference, text_col, id_col, n, prefix)
    pairs = ref.select(
        "h", _bloom_gram_str(F.col("_p") + 1, n).alias("sh")
    ).distinct()
    probes = ref.select("h").distinct().select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64("h", F.lit(i)), F.lit(m_bits))
                    for i in range(k)
                ]
            )
        ).alias("_pos")
    )
    words = (
        probes.selectExpr(
            "cast(_pos div 64 as int) AS bucket",
            "shiftleft(1L, cast(_pos % 64 as int)) AS mask",
        )
        .groupBy("bucket")
        .agg(F.bit_or("mask").alias("word"))
        .select(
            F.lit(m_bits).cast("long").alias("m_bits"),
            F.lit(k).cast("int").alias("k"),
            F.lit(n).cast("int").alias("n"),
            F.lit(prefix).cast("int").alias("prefix"),
            "bucket",
            "word",
        )
    )
    return words, pairs


def _bloom_state_geometry(words: DataFrame, what: str) -> tuple:
    """Read (m_bits, k, n, prefix) off a stored state's words rows — one
    limit(1) collect. Raises on empty state and on pre-r10 states that
    predate n/prefix tracking (ADVICE r09 #1): a state whose gram shape
    is unknown cannot be probed safely, because a different n or prefix
    hashes DIFFERENT grams — silent false negatives, not an error."""
    missing = {"n", "prefix"} - set(words.columns)
    if missing:
        raise ValueError(
            f"bloom state lacks column(s) {sorted(missing)} — it predates "
            "gram-shape tracking; rebuild it with bloom_decontaminate_state "
            "(probing with an unknown n/prefix risks Bloom false negatives)"
        )
    head = words.limit(1).collect()
    if not head:
        raise ValueError(
            f"empty bloom state — build it with bloom_decontaminate_state"
            f" before {what}"
        )
    h = head[0]
    return int(h["m_bits"]), int(h["k"]), int(h["n"]), int(h["prefix"])


def bloom_decontaminate(
    corpus: DataFrame,
    reference: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int | None = None,
    prefix: int | None = None,
    m_bits: int | None = None,
    k: int | None = None,
    state: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Corpus-vs-corpus decontamination with a Bloom prefilter — the scale
    shape for when the REFERENCE side is itself corpus-sized (dedup
    against prior training data, another crawl snapshot) and its exact
    (hash, shingle) pairs can no longer broadcast the way a fixed-size
    held-out benchmark can (queries.decontaminate_ngram_overlap's
    contract). Output: (id, n_overlap) = distinct word-``n``-grams each
    corpus doc shares with the reference — byte-identical to the exact
    overlap join, because the Bloom filter only ever ADDS candidates and
    every candidate is string-verified.

    Scale posture, stage by stage:
    - Reference pass 1 builds the Bloom bitmap IN the engine: per gram,
      ``k`` probe positions — independent salted rehashes of the 64-bit
      gram hash (never of the string; stronger independence than
      Kirsch-Mitzenmacher double hashing at the same cost) — then
      bucket -> partial bit_or map-side, so the aggregation
      shuffles at most ``m_bits/64`` (bucket, word) rows no matter the
      reference size. Densification to the broadcastable array happens
      entirely JVM-side (one ordered collect_list row); the Python
      driver never touches the bits, and ``m_bits`` defaults to
      corpus-aware sizing (``derive_bloom_m_bits`` from a reference
      count — the sf10 measurement showed a fixed default saturating
      silently once the reference outgrew it).
    - Corpus probe is pure codegen in the scan stage: the gram hash comes
      from a ``n``-argument xxhash64 over the token slice (no gram string
      is ever materialized for non-candidates, the hash-first trick from
      decontaminate_ngram_overlap), tested against the broadcast bitmap
      with element_at + shiftleft. At the design false-positive rate only
      ~fpp of corpus grams survive to the verify join.
    - Verify is an equi-join on the 64-bit gram hash against the
      reference's distinct (hash, shingle) pairs — the ONLY shuffle that
      scales with the reference — followed by string equality, so a
      64-bit collision (like a Bloom false positive) can only add a
      FILTERED row, never a counted one. The corpus side of that shuffle
      is the candidate sliver, not the corpus.

    Sizing: m_bits ~ 14.4 * expected_reference_grams gives ~0.1% fpp at
    the optimal k≈10; with the default k=2 use m_bits ≥ ~10x the gram
    count for fpp ≤ ~1%. Oversizing only costs broadcast bytes
    (m_bits/8); undersizing only costs verify-join traffic — correctness
    is unaffected either way, which is what lets the exact SQL overlap
    serve as this operator's full value oracle.

    Tokenization contract matches decontaminate_ngram_overlap (raw
    lower() split on single spaces, gram positions 1..min(len-n+1,
    ``prefix``)) so the two operators' oracles are the same family.
    """
    if (reference is None) == (state is None):
        raise ValueError("pass exactly one of reference= or state=")

    if state is not None:
        words, ref_pairs = state
        got_m, got_k, got_n, got_pfx = _bloom_state_geometry(
            words, "probing"
        )
        if (
            (m_bits is not None and got_m != m_bits)
            or (k is not None and got_k != k)
            or (n is not None and got_n != n)
            or (prefix is not None and got_pfx != prefix)
        ):
            raise ValueError(
                f"bloom state geometry (m_bits={got_m}, k={got_k}, "
                f"n={got_n}, prefix={got_pfx}) does not match probe "
                f"arguments (m_bits={m_bits}, k={k}, n={n}, "
                f"prefix={prefix}) — a mismatched bitmap produces Bloom "
                "false negatives (wrong m_bits/k) or hashes different "
                "grams entirely (wrong n/prefix): missed contamination "
                "either way"
            )
        # geometry IS the state's — bitmap shape and gram shape alike
        m_bits, k, n, prefix = got_m, got_k, got_n, got_pfx
    else:
        n = 5 if n is None else n
        prefix = 200 if prefix is None else prefix
        k = 2 if k is None else k
        if m_bits is None:
            m_bits = derive_bloom_m_bits(reference.count(), prefix)
        words, ref_pairs = bloom_decontaminate_state(
            reference, text_col, id_col, n=n, prefix=prefix,
            m_bits=m_bits, k=k,
        )

    # Densify the bitmap ENTIRELY JVM-side: range(n_words) left-joined
    # with the sparse words, folded into one ordered array row. The bits
    # never round-trip through the Python driver (a 2^28-bit bitmap is
    # ~4M words — measured at sf10, the py4j collect+re-upload cost more
    # than the shuffle it saved); the one-row result is what broadcasts.
    spark: SparkSession = corpus.sparkSession
    n_words = m_bits // 64
    bits_df = (
        spark.range(n_words)
        .select(F.col("id").cast("int").alias("bucket"))
        .join(words.select("bucket", "word"), "bucket", "left")
        .select(
            "bucket", F.coalesce("word", F.lit(0).cast("long")).alias("w")
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("bucket", "w"))),
                lambda s: s["w"],
            ).alias("_bits")
        )
    )

    # --- corpus probe (codegen, no strings) ------------------------------
    cand = _bloom_grams(corpus, text_col, id_col, n, prefix).crossJoin(
        F.broadcast(bits_df)
    )
    for i in range(k):
        cand = cand.withColumn(
            f"_bp{i}", F.pmod(F.xxhash64("h", F.lit(i)), F.lit(m_bits))
        )
    bit_test = " AND ".join(
        f"(element_at(_bits, cast(_bp{i} div 64 as int) + 1)"
        f" & shiftleft(1L, cast(_bp{i} % 64 as int))) != 0"
        for i in range(k)
    )
    survivors = cand.where(F.expr(bit_test))

    # --- exact verify: hash equi-join + string equality -------------------
    # build the gram string BEFORE the shuffle so each candidate ships
    # (id, h, ~n-token string), not the document's whole token array
    cand = survivors.select(
        F.col(id_col), "h", _bloom_gram_str(F.col("_p") + 1, n).alias("_shc")
    )
    return (
        cand.join(ref_pairs, "h")
        .where(F.col("_shc") == F.col("sh"))
        .select(id_col, "sh")
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


def bloom_state_append(
    state: tuple[DataFrame, DataFrame],
    new_reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int | None = None,
    prefix: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Fold a NEW reference batch into stored decontamination state — the
    nightly maintenance half of ``bloom_decontaminate_state``: old
    reference text is never re-read. The FULL geometry (m_bits, k, n,
    prefix) comes from the stored words rows (the state is
    self-describing), so an append can never silently change the bitmap
    — or the gram shape — a probe depends on; explicitly passing an
    ``n``/``prefix`` that disagrees with the state raises (ADVICE r09
    #1: appending grams of a different shape would poison the pairs
    table with strings no probe at the state's shape can match).

    Cost: one gram pass over the BATCH, a bit_or re-aggregation over
    (stored words UNION batch words) — at most 2·m_bits/64 input rows
    plus the batch's buckets — and a distinct over the pairs union (the
    one reference-sized shuffle; it keeps state minimal, though duplicate
    pairs would be harmless to probe correctness since the verify path
    distincts (id, sh) after the join). Invariant, pinned by pytest:
    append(state(A), B) == state(A ∪ B) at the same geometry.

    Sizing note: because appends keep the bootstrap bitmap's geometry,
    a state auto-derived from a small first batch will be undersized for
    the reference it grows into — fpp degrades (more verify traffic),
    correctness never changes. Bootstrap with an explicit
    ``m_bits=derive_bloom_m_bits(expected_final_docs)`` when the growth
    is known; rebuild (one pass over the accumulated pairs' ``sh``) when
    it was not."""
    words, pairs = state
    m_bits, k, got_n, got_pfx = _bloom_state_geometry(words, "appending")
    if (n is not None and got_n != n) or (
        prefix is not None and got_pfx != prefix
    ):
        raise ValueError(
            f"bloom state gram shape (n={got_n}, prefix={got_pfx}) does "
            f"not match append arguments (n={n}, prefix={prefix}) — "
            "appending grams of a different shape silently breaks every "
            "future probe of this state"
        )
    n, prefix = got_n, got_pfx
    new_words, new_pairs = bloom_decontaminate_state(
        new_reference, text_col, id_col, n=n, prefix=prefix,
        m_bits=m_bits, k=k,
    )
    merged_words = (
        words.select("bucket", "word")
        .unionByName(new_words.select("bucket", "word"))
        .groupBy("bucket")
        .agg(F.bit_or("word").alias("word"))
        .select(
            F.lit(m_bits).cast("long").alias("m_bits"),
            F.lit(k).cast("int").alias("k"),
            F.lit(n).cast("int").alias("n"),
            F.lit(prefix).cast("int").alias("prefix"),
            "bucket",
            "word",
        )
    )
    merged_pairs = pairs.unionByName(new_pairs).distinct()
    return merged_words, merged_pairs
