"""Sliding n-token windows (dedup.token_windows) and the n-gram kernels
built on it: values against a pure-python reference and against the
index-into-array formulas they replace, plus the plan guard that keeps
every tokenizer call out of the per-window lambda."""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import functions as F

from aim357_2019_etl_and_ml_workshop_spark.operators.curation import (
    _bloom_grams,
)
from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
    ngram_array,
    normalize_text,
    remove_repeated_spans,
    token_windows,
    word_shingles,
)
from aim357_2019_etl_and_ml_workshop_spark.operators.textanalysis import (
    lang_id,
    quality_features,
    repetition_filter,
)
from aim357_2019_etl_and_ml_workshop_spark.plans import lambda_tokenizer_calls
from aim357_2019_etl_and_ml_workshop_spark.sources.io import read_testdata
from conftest import SF_SMALL

# the sf0.01 documents sit beside the small test scale factor
SF001 = os.path.join(os.path.dirname(SF_SMALL), "sf0.01")

TEXTS = [
    None,
    "",
    "a",
    "a b",
    "a b c",
    "a b c d e",
    "a  b c ",  # double and trailing spaces give empty tokens
    " lead  x",
    "x y x y x y x",
    " ".join(f"w{i % 7}" for i in range(250)),  # past the 200-window cap
]


def _windows(text, n, limit=None):
    if text is None:
        return []
    t = text.split(" ")
    w = [t[i : i + n] for i in range(len(t) - n + 1)]
    return w if limit is None else w[:limit]


def _round6(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def test_token_windows_match_python_reference(spark):
    df = spark.createDataFrame(list(enumerate(TEXTS)), "id long, text string")
    toks = F.split("text", " ")
    cols = []
    for n in range(1, 6):
        cols.append(ngram_array(toks, n).alias(f"ng{n}"))
        cols.append(token_windows(toks, n, lambda ws: F.array(*ws)).alias(f"w{n}"))
        cols.append(
            token_windows(toks, n, lambda ws: F.array(*ws), limit=200).alias(
                f"cap{n}"
            )
        )
    rows = {r["id"]: r for r in df.select("id", *cols).collect()}
    for i, text in enumerate(TEXTS):
        for n in range(1, 6):
            want = _windows(text, n)
            assert rows[i][f"w{n}"] == want, (text, n)
            assert rows[i][f"ng{n}"] == [" ".join(w) for w in want], (text, n)
            assert rows[i][f"cap{n}"] == _windows(text, n, 200), (text, n)
    assert len(rows[len(TEXTS) - 1]["cap5"]) == 200

    got = {
        r["id"]: (r["rep_ratio"], r["keep"])
        for r in repetition_filter(df, "text", "id", n=3, max_ratio=0.2).collect()
    }
    for i, text in enumerate(TEXTS):
        grams = [" ".join(w) for w in _windows(text, 3)]
        ratio = _round6(1 - len(set(grams)) / len(grams)) if grams else 0.0
        assert got[i] == (ratio, ratio <= 0.2), text


def test_window_kernels_equal_index_formulas(spark):
    """On the sf0.01 documents, every window kernel equals the per-index
    formula it replaced (element_at / slice of the token array inside a
    transform over gram positions): the same elements in the same order
    and under the same prefix cap, so the strings and the xxhash64 values
    are identical."""
    docs = read_testdata(spark, SF001, "documents").select("doc_id", "text")

    def by_index(toks, n, gram, cap=None, base=1):
        count = F.size(toks) - (n - 1)
        if cap is not None:
            count = F.least(count, F.lit(cap))
        return F.when(F.size(toks) < n, F.array()).otherwise(
            F.transform(
                F.sequence(F.lit(base), count + (base - 1)),
                lambda i: gram(i + (1 - base)),
            )
        )

    raw = F.split("text", " ")
    norm = F.split(normalize_text("text"), " ")
    low = F.split(F.lower("text"), " ")
    pairs = {
        # ngram_array / word_shingles (string mode of the span miners too)
        "ngram3": (
            ngram_array(raw, 3),
            by_index(raw, 3, lambda i: F.concat_ws(
                " ", *[F.element_at(raw, i + j) for j in range(3)]), base=0),
        ),
        # repeated_ngram_spans(hash_spans=True): xxhash64 of the slice
        "span_hash": (
            token_windows(norm, 5, lambda ws: F.xxhash64(*ws)),
            by_index(norm, 5, lambda i: F.xxhash64(F.slice(norm, i, 5)), base=0),
        ),
        # decontaminate_ngram_overlap: 5-argument hash, 200-window cap
        "decontam_hash": (
            token_windows(low, 5, lambda ws: F.xxhash64(*ws), limit=200),
            by_index(low, 5, lambda i: F.xxhash64(
                *[F.element_at(low, i + j) for j in range(5)]), cap=200),
        ),
        # curate_corpus decontamination shingles: slice strings, capped
        "curate_grams": (
            token_windows(norm, 5, lambda ws: F.concat_ws(" ", *ws), limit=200),
            by_index(norm, 5, lambda i: F.concat_ws(
                " ", F.slice(norm, i, 5)), cap=200),
        ),
    }
    checked = docs.select(
        *[
            F.sum((~new.eqNullSafe(old)).cast("int")).alias(name)
            for name, (new, old) in pairs.items()
        ],
        F.sum(F.size(pairs["decontam_hash"][0])).alias("n_grams"),
    ).collect()[0]
    assert checked["n_grams"] > 0
    for name in pairs:
        assert checked[name] == 0, name

    # curation._bloom_grams against its per-index formula (n=5, prefix 200)
    got = _bloom_grams(docs, "text", "doc_id", 5, 200).select("doc_id", "_p", "h")
    want = docs.select(
        "doc_id",
        F.posexplode(
            F.when(F.size(low) >= 5, F.transform(
                F.sequence(F.lit(1), F.least(F.size(low) - 4, F.lit(200))),
                lambda i: F.xxhash64(*[F.element_at(low, i + j) for j in range(5)]),
            )).otherwise(F.array().cast("array<bigint>"))
        ).alias("_p", "h"),
    )
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0


def test_ngram_kernels_keep_tokenizers_out_of_lambdas(spark, sf_dir):
    """Catalyst inlines the token alias into a filter it pushes below the
    projection; the window lambda must still hold no tokenizer call. The
    per-index form is the positive control: the guard sees its split."""
    docs = read_testdata(spark, sf_dir, "documents")
    q = quality_features(docs, "text", "doc_id")
    lid = lang_id(docs, "text", "doc_id")
    rep = repetition_filter(docs, "text", "doc_id", max_ratio=0.5)
    gate = (
        docs.join(q.select("doc_id", "n_tokens", "stop_ratio"), "doc_id")
        .join(lid.select("doc_id", "pred_lang"), "doc_id")
        .join(rep.where(F.col("keep")).select("doc_id"), "doc_id")
        .where((F.col("n_tokens") >= 10) & (F.col("stop_ratio") <= 0.9))
    )
    frames = {
        "gate": gate,
        "word_shingles": docs.select("doc_id", word_shingles("text").alias("sh")),
        "remove_repeated_spans": remove_repeated_spans(
            docs, "text", "doc_id"
        ).where(F.col("n_removed") > 0),
    }
    for name, frame in frames.items():
        assert lambda_tokenizer_calls(frame) == 0, name

    toks = F.split("text", " ")
    per_index = docs.select(
        F.transform(
            F.sequence(F.lit(1), F.size(toks)), lambda i: F.element_at(toks, i)
        ).alias("t")
    )
    assert lambda_tokenizer_calls(per_index) == 1
