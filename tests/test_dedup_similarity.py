"""Near-dup + similarity operators: MinHash/LSH and SimHash agree with their
exact oracles (Jaccard / Hamming / brute-force cosine) on real testdata —
approximate structures must RECALL what the exact path finds."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from aim357_2019_etl_and_ml_workshop_spark.operators import similarity
from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
    canonical_dedup,
    exact_dedup,
    minhash_near_duplicates,
    minhash_signatures,
    simhash_fingerprints,
    simhash_near_duplicates,
    word_shingles,
)
from aim357_2019_etl_and_ml_workshop_spark.operators.similarity import (
    as_double_vec,
    brute_force_topk,
    lsh_topk,
)
from aim357_2019_etl_and_ml_workshop_spark.sources.io import read_testdata


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base),  # exact dup
        Row(doc_id=3, text=base.replace("dog", "cat")),  # near dup
        Row(doc_id=4, text="completely different words about spark and flink engines"),
        Row(doc_id=5, text="ab"),  # shorter than one shingle
    ]
    return spark.createDataFrame(rows)


def test_word_shingles_short_text_empty(spark, docs_with_dups):
    out = docs_with_dups.select(
        "doc_id", F.size(word_shingles("text")).alias("n")
    ).collect()
    sizes = {r.doc_id: r.n for r in out}
    assert sizes[5] == 0  # no descending-sequence bug on short text
    assert sizes[1] > 0


def test_exact_and_canonical_dedup(spark, docs_with_dups):
    assert exact_dedup(docs_with_dups, ["text"]).count() == 4
    canon = canonical_dedup(docs_with_dups, "text", "doc_id")
    row = {r.doc_id: r.n_dups for r in canon.collect()}
    assert row[1] == 2  # doc 1 is the canonical rep of the pair (min id)


def test_minhash_finds_near_dups(spark, docs_with_dups):
    out = minhash_near_duplicates(
        docs_with_dups.where("doc_id < 5"), "text", "doc_id",
        threshold=0.3, num_hashes=32, bands=16,
    ).collect()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert pairs[(1, 2)] == 1.0  # exact dup pair found with jaccard 1
    assert (1, 3) in pairs or (2, 3) in pairs  # near-dup recalled
    assert all((4 not in p) for p in pairs)  # unrelated doc not paired


def test_minhash_recall_vs_exact_jaccard_on_testdata(spark, sf_dir):
    """On driver documents: every exact-Jaccard>=0.5 pair must be recalled
    by the banded LSH (b=16,r=2 -> collision prob at s=0.5 is ~1-(1-.25)^16
    = 99%; with these docs the high-sim set is tiny and must all appear)."""
    docs = read_testdata(spark, sf_dir, "documents").select("doc_id", "text")
    approx = minhash_near_duplicates(
        docs, "text", "doc_id", threshold=0.5, num_hashes=32, bands=16
    )
    got = {(r.id_a, r.id_b) for r in approx.collect()}
    # exact all-pairs jaccard (small n at sf0.001)
    s = docs.select("doc_id", F.explode(word_shingles("text")).alias("sh"))
    sz = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = s.select(F.col("doc_id").alias("id_a"), "sh")
    b = s.select(F.col("doc_id").alias("id_b"), "sh")
    inter = (
        a.join(b, "sh").where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("i"))
    )
    za = sz.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sa"))
    zb = sz.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sb"))
    jac = F.col("i") / (F.col("sa") + F.col("sb") - F.col("i"))
    want = {
        (r.id_a, r.id_b)
        for r in inter.join(za, "id_a").join(zb, "id_b").where(jac >= 0.5).collect()
    }
    assert want <= got  # full recall at this threshold


def test_simhash_near_dups(spark, docs_with_dups):
    fps = simhash_fingerprints(docs_with_dups, "text", "doc_id")
    vals = {r.doc_id: r.simhash for r in fps.collect()}
    assert vals[1] == vals[2]  # identical text -> identical fingerprint
    out = simhash_near_duplicates(
        docs_with_dups.where("doc_id < 5"), "text", "doc_id", max_hamming=3
    ).collect()
    pairs = {(r.id_a, r.id_b): r.hamming for r in out}
    assert pairs[(1, 2)] == 0


def test_simhash_portable_hash_matches_reference(spark, docs_with_dups):
    """portable60 fingerprints must be reproducible from hashlib.md5 —
    the property the DuckDB oracle twin depends on."""
    import hashlib

    fps = simhash_fingerprints(
        docs_with_dups, "text", "doc_id", bits=60, hash_fn="portable60"
    )
    rows = {r.doc_id: r.simhash for r in fps.collect()}
    texts = {r.doc_id: r.text for r in docs_with_dups.collect()}
    import re

    def ref_simhash(text: str) -> int:
        toks = re.sub(r"\s+", " ", text.lower()).split(" ")
        votes = [0] * 60
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for b in range(60):
                votes[b] += 1 if (h >> b) & 1 else -1
        return sum(1 << b for b in range(60) if votes[b] > 0)

    for doc_id, text in texts.items():
        assert rows[doc_id] == ref_simhash(text), doc_id
    with pytest.raises(ValueError):
        simhash_fingerprints(
            docs_with_dups, "text", "doc_id", bits=64, hash_fn="portable60"
        )


def test_minhash_portable_signatures_match_reference(spark, docs_with_dups):
    """portable60 min-hash signatures must be reproducible from
    hashlib.md5 — the property the minhash_portable_* DuckDB oracles
    depend on (VERDICT r10 #1)."""
    import hashlib

    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        minhash_signatures,
    )

    k = 8
    sigs = {
        r.doc_id: list(r.sig)
        for r in minhash_signatures(
            docs_with_dups, "text", "doc_id", num_hashes=k,
            hash_fn="portable60",
        ).collect()
    }
    texts = {r.doc_id: r.text for r in docs_with_dups.collect()}

    def p60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def ref_sig(text: str) -> list[int] | None:
        toks = text.split(" ")
        shingles = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
        if not shingles:
            return None
        bases = [p60(sh) for sh in shingles]
        return [min(p60(f"{b}:{i}") for b in bases) for i in range(k)]

    for doc_id, text in texts.items():
        want = ref_sig(text)
        if want is None:
            assert doc_id not in sigs  # no shingles -> no signature row
        else:
            assert sigs[doc_id] == want, doc_id
    with pytest.raises(ValueError, match="hash_fn"):
        minhash_signatures(
            docs_with_dups, "text", "doc_id", hash_fn="sha9000"
        )


def test_minhash_portable_and_xxhash_verdicts_agree(spark):
    """In the design regime (candidate recall complete for the true
    pairs, exact-Jaccard verification killing every false candidate)
    the portable60 and xxhash64 pipelines must emit the IDENTICAL
    verified pair set — the hash family only shapes the candidate
    superset, never the verdicts (VERDICT r10 #1: 'hash-proven equal
    verdicts to the xxhash64 mode on the same corpus'). Exact-duplicate
    pairs are hash-independently recalled (equal signatures in ANY
    family), so the ground truth here is deterministic, not
    probabilistic."""
    from pyspark.sql import Row

    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        minhash_near_duplicates,
    )

    base = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten eleven",
        "spark flink trino duckdb presto hive impala drill kylin",
    ]
    rows = []
    gid = 0
    for i, b in enumerate(base):
        for j in range(3):  # three exact copies of each distinct text
            rows.append(Row(doc_id=gid, text=b))
            gid += 1
    docs = spark.createDataFrame(rows)
    want = {  # all within-clone-group pairs at jaccard 1.0
        (a, b)
        for g in range(3)
        for a in range(g * 3, g * 3 + 3)
        for b in range(a + 1, g * 3 + 3)
    }
    got = {}
    for fn in ("xxhash64", "portable60"):
        out = minhash_near_duplicates(
            docs, "text", "doc_id", threshold=0.9, num_hashes=32,
            bands=16, max_bucket_size=None, hash_fn=fn,
        ).collect()
        got[fn] = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert set(got["xxhash64"]) == want
    assert got["xxhash64"] == got["portable60"]
    assert all(j == 1.0 for j in got["portable60"].values())


def test_lsh_portable_buckets_match_int_reference(spark):
    """The portable ANN twin's load-bearing property (r11): bucket bits
    are INTEGER-exact — floor-quantized vectors against md5-derived
    integer hyperplanes — so a pure-python big-int reference (no numpy,
    no float dot anywhere) must reproduce every (table, bucket) row the
    Spark kernel emits. This is the associativity that lets the DuckDB
    oracle replay bucket membership where float dots could flip a
    near-zero sign between summation orders."""
    import hashlib
    import math

    from aim357_2019_etl_and_ml_workshop_spark.operators.similarity import (
        _multi_table_buckets_int,
        portable_hyperplanes_int,
    )

    dim, n_tables, n_bits, scale = 8, 5, 3, 1_000_000
    vecs = [
        (i, [math.sin(i * 13 + j) for j in range(dim)]) for i in range(40)
    ]
    df = spark.createDataFrame(vecs, "vec_id bigint, v array<double>")
    planes = [
        portable_hyperplanes_int(dim, n_bits, t) for t in range(n_tables)
    ]
    # independent reference: re-derive the planes from hashlib and the
    # buckets from pure-int arithmetic
    for t in range(n_tables):
        for b in range(n_bits):
            for j in range(dim):
                h = int(
                    hashlib.md5(f"{t}:{b}:{j}".encode()).hexdigest()[:15], 16
                )
                assert planes[t][b][j] == (h % 2001) - 1000

    got = {
        (r.vec_id, r.table): r.bucket
        for r in _multi_table_buckets_int(df, "v", planes, scale).collect()
    }
    for i, v in vecs:
        vq = [math.floor(x * scale) for x in v]
        for t in range(n_tables):
            want = sum(
                (1 << b)
                for b in range(n_bits)
                if sum(vq[j] * planes[t][b][j] for j in range(dim)) > 0
            )
            assert got[(i, t)] == want, (i, t)


def test_lsh_portable_topk_recall_vs_brute_force(spark, sf_dir):
    """The portable twin must remain a GOOD ANN, not just a replayable
    one: recall vs exact brute force at the conformance SF (measured
    0.88 at sf0.001 / 0.96 at sf0.01 with the default 16x4 geometry)."""
    from pyspark.sql import functions as F

    from aim357_2019_etl_and_ml_workshop_spark.operators.similarity import (
        as_double_vec,
        brute_force_topk,
        lsh_portable_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", as_double_vec("embedding").alias("v")
    )
    q = emb.where(F.col("vec_id") % 50 == 0)
    approx = {
        (r.q_id, r.c_id) for r in lsh_portable_topk(emb, q, k=5).collect()
    }
    exact = {
        (r.q_id, r.c_id) for r in brute_force_topk(emb, q, k=5).collect()
    }
    assert len(exact) > 0
    assert len(approx & exact) / len(exact) >= 0.7


def test_lsh_portable_topk_keeps_string_ids(spark):
    """lsh_portable_topk takes the id type from the query frame's schema.
    String ids give the same neighbours as integer ids; zero-padded names
    keep the c_id tiebreak order the same under both types."""
    import math

    from aim357_2019_etl_and_ml_workshop_spark.operators.similarity import (
        lsh_portable_topk,
    )

    dim = 8
    vecs = [
        (i, [math.sin(i * 7 + j) / 2 for j in range(dim)]) for i in range(60)
    ]
    by_int = spark.createDataFrame(vecs, "vec_id bigint, v array<double>")
    by_str = spark.createDataFrame(
        [(f"v{i:03d}", v) for i, v in vecs], "vec_id string, v array<double>"
    )
    got_int = lsh_portable_topk(
        by_int, by_int.where("vec_id % 10 = 0"), k=3, dim=dim
    ).collect()
    out_str = lsh_portable_topk(
        by_str, by_str.where("vec_id LIKE '%0'"), k=3, dim=dim
    )
    assert out_str.schema["q_id"].dataType.simpleString() == "string"
    got_str = {(r.q_id, r.c_id, r.sim) for r in out_str.collect()}
    assert len(got_int) > 0
    assert got_str == {
        (f"v{r.q_id:03d}", f"v{r.c_id:03d}", r.sim) for r in got_int
    }


def test_ivf_portable_assignment_matches_int_reference(spark):
    """The portable IVF twin's load-bearing property (r11): cell
    assignment and probe sets are INTEGER-exact argmins of quantized
    squared distance, so a pure-python big-int reference must reproduce
    them row-for-row, ties falling to the smallest centroid id in both
    — the associativity that lets the DuckDB oracle replay cell
    membership (float argmins can diverge between summation orders)."""
    import math

    from pyspark.sql import functions as F

    from aim357_2019_etl_and_ml_workshop_spark.operators.similarity import (
        ivf_portable_topk,
    )

    dim, scale = 6, 1_000_000
    vecs = [
        (i, [math.cos(i * 7 + j) for j in range(dim)]) for i in range(30)
    ]
    df = spark.createDataFrame(vecs, "vec_id bigint, v array<double>")
    q = df.where(F.col("vec_id") % 5 == 0)
    out = ivf_portable_topk(df, q, k=3, n_cells=4, n_probe=2, scale=scale)
    got = {(r.q_id, r.c_id): r.sim for r in out.collect()}

    # pure-python reference of the whole pipeline
    vq = {i: [math.floor(x * scale) for x in v] for i, v in vecs}
    cents = sorted(vq)[:4]

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(vq[a], vq[b]))

    assign = {
        i: min(cents, key=lambda c: (d2(i, c), c)) for i, _ in vecs
    }
    want = {}
    for qi in sorted(i for i, _ in vecs if i % 5 == 0):
        probe = sorted(cents, key=lambda c: (d2(qi, c), c))[:2]
        cand = [c for c, cell in assign.items() if cell in probe and c != qi]
        sims = []
        for c in cand:
            # the r12 quantized-cosine contract: exact int dots over the
            # SAME quantized vectors, floor-quantized sim (bit-identical
            # across engines — see quantized_cosine)
            num = sum(x * y for x, y in zip(vq[qi], vq[c]))
            den = math.sqrt(sum(x * x for x in vq[qi])) * math.sqrt(
                sum(x * x for x in vq[c])
            )
            sims.append((math.floor((num / den) * scale) / scale, c))
        for sim, c in sorted(sims, key=lambda t: (-t[0], t[1]))[:3]:
            want[(qi, c)] = sim
    assert got == want


def test_ivf_portable_topk_recall_vs_brute_force(spark, sf_dir):
    """The portable IVF twin must remain a usable ANN: recall vs exact
    brute force at the conformance SF (measured 0.72 at sf0.001 / 0.62
    at sf0.01 with smallest-id centroids, 16 cells, 6 probes — the
    fitted-k-means path stays the quality twin)."""
    from pyspark.sql import functions as F

    from aim357_2019_etl_and_ml_workshop_spark.operators.similarity import (
        as_double_vec,
        brute_force_topk,
        ivf_portable_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", as_double_vec("embedding").alias("v")
    )
    q = emb.where(F.col("vec_id") % 50 == 0)
    approx = {
        (r.q_id, r.c_id)
        for r in ivf_portable_topk(emb, q, k=5, n_probe=6).collect()
    }
    exact = {
        (r.q_id, r.c_id) for r in brute_force_topk(emb, q, k=5).collect()
    }
    assert len(exact) > 0
    assert len(approx & exact) / len(exact) >= 0.5


def test_embedding_neardup_portable_precision_and_recall(spark, sf_dir):
    """The portable bucketed near-dup (r11): precision must be EXACTLY 1
    against a numpy all-pairs ground truth (the rounded-cosine verify
    kills every false bucket candidate — same quantization both sides),
    and recall must stay high (measured 0.963 at sf0.001 with the 16x4
    integer-plane geometry)."""
    import numpy as np
    from pyspark.sql import functions as F  # noqa: F401

    from aim357_2019_etl_and_ml_workshop_spark.operators.similarity import (
        as_double_vec,
        embedding_neardup_portable,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", as_double_vec("embedding").alias("v")
    )
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    m = np.stack([np.array(r.v) for r in rows])
    n = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = np.round(n @ n.T, 6)
    exact = {
        (int(ids[i]), int(ids[j]))
        for i in range(len(ids))
        for j in range(len(ids))
        if ids[i] < ids[j] and sims[i, j] >= 0.42
    }
    got = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_portable(
            emb, "vec_id", "v", threshold=0.42
        ).collect()
    }
    assert len(exact) > 10
    assert got <= exact  # precision 1: no false positive survives verify
    assert len(got & exact) / len(exact) >= 0.8


def test_lsh_topk_recall_vs_brute_force(spark, sf_dir):
    emb = read_testdata(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_vec("embedding").alias("v")
    )
    q = emb.where(F.col("vec_id") % 100 == 0)
    exact = brute_force_topk(emb, q, k=5)
    approx = lsh_topk(emb, q, k=5, n_tables=16, n_bits=4)
    ex = {(r.q_id, r.c_id) for r in exact.collect()}
    ap = {(r.q_id, r.c_id) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    # testdata embeddings are near-isotropic (neighbor cosine ~0.3) — the
    # hardest case for LSH; expected recall at (k=4, L=16) is ~0.89
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_ivf_topk_recall_vs_brute_force(spark, sf_dir):
    from aim357_2019_etl_and_ml_workshop_spark.operators.similarity import (
        ivf_topk,
    )

    emb = read_testdata(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_vec("embedding").alias("v")
    )
    q = emb.where(F.col("vec_id") % 100 == 0)
    exact = {(r.q_id, r.c_id) for r in brute_force_topk(emb, q, k=5).collect()}
    # isotropic data: probe a wide fraction of cells (6/16) for recall
    ap = {
        (r.q_id, r.c_id)
        for r in ivf_topk(emb, q, k=5, n_centroids=16, n_probe=6).collect()
    }
    recall = len(exact & ap) / len(exact)
    assert recall >= 0.4, f"IVF recall too low: {recall}"


def test_ivf_deterministic(spark, sf_dir):
    from aim357_2019_etl_and_ml_workshop_spark.operators.similarity import (
        ivf_topk,
    )

    emb = read_testdata(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_vec("embedding").alias("v")
    )
    q = emb.where(F.col("vec_id") % 200 == 0)
    a = sorted(map(tuple, ivf_topk(emb, q, k=3).collect()))
    b = sorted(map(tuple, ivf_topk(emb, q, k=3).collect()))
    assert a == b


def test_embedding_neardup_lsh_recall(spark, sf_dir):
    """The LSH-bucketed near-dup must recall the high-similarity pairs the
    exact blocked oracle finds (restricted to same-label pairs, which is
    what the blocked version can see)."""
    from aim357_2019_etl_and_ml_workshop_spark import queries as q

    exact = {
        (r.id_a, r.id_b)
        for r in q.queries()["embedding_neardup_blocked"](spark, sf_dir).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in q.queries()["embedding_neardup_lsh"](spark, sf_dir).collect()
    }
    if exact:
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.5, f"embedding near-dup recall too low: {recall}"


def test_cluster_representatives_keep_longest(spark):
    from pyspark.sql import Row

    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        cluster_representatives,
    )

    comps = spark.createDataFrame(
        [Row(id=1, comp=1), Row(id=2, comp=1), Row(id=3, comp=1),
         Row(id=7, comp=7), Row(id=8, comp=7)]
    )
    docs = spark.createDataFrame(
        [Row(doc_id=1, n_chars=10), Row(doc_id=2, n_chars=50),
         Row(doc_id=3, n_chars=50), Row(doc_id=7, n_chars=5),
         Row(doc_id=8, n_chars=5)]
    )
    reps = {
        r.cluster: (r.rep_doc_id, r.n_members)
        for r in cluster_representatives(comps, docs).collect()
    }
    assert reps[1] == (2, 3)  # longest wins, tie -> lowest id
    assert reps[7] == (7, 2)  # tie at 5 chars -> lowest id


def test_repetition_filter_flags_repeats(spark):
    from pyspark.sql import Row

    from aim357_2019_etl_and_ml_workshop_spark.operators.textanalysis import (
        repetition_filter,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d e f g h"),          # all distinct
            Row(doc_id=2, text="x y z x y z x y z x y z"),  # heavy repeat
            Row(doc_id=3, text="one two"),                  # < n tokens
        ]
    )
    out = {r.doc_id: r for r in repetition_filter(docs, "text", "doc_id").collect()}
    assert out[1].rep_ratio == 0.0 and out[1].keep
    assert out[2].rep_ratio > 0.5 and not out[2].keep
    assert out[3].rep_ratio == 0.0 and out[3].keep  # no grams -> clean


def test_pack_sequences_bins_respect_order_and_budget(spark):
    from pyspark.sql import Row

    from aim357_2019_etl_and_ml_workshop_spark.operators.mlpipeline import (
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, lang="en", text=" ".join(["t"] * 100)) for i in range(10)]
    )
    out = pack_sequences(
        docs, "doc_id", "text", "lang", budget_tokens=300, shard_size=1000
    ).collect()
    bins = {r.doc_id: r.bin for r in out}
    # 100 tokens/doc, 300/bin -> docs 0-2 bin 0, 3-5 bin 1, ...
    for i in range(10):
        assert bins[i] == i // 3
    # bins are contiguous in id order within the shard
    assert all(bins[i] <= bins[i + 1] for i in range(9))


def test_shard_assign_deterministic_and_covering(spark):
    from pyspark.sql import Row

    from aim357_2019_etl_and_ml_workshop_spark.operators.mlpipeline import (
        shard_assign,
    )

    docs = spark.createDataFrame([Row(doc_id=i) for i in range(200)])
    a = {r.doc_id: r.shard for r in shard_assign(docs, "doc_id", 8).collect()}
    b = {
        r.doc_id: r.shard
        for r in shard_assign(docs.repartition(7), "doc_id", 8).collect()
    }
    assert a == b  # layout-independent
    assert set(a.values()) <= set(range(8))
    assert len(set(a.values())) >= 6  # md5 spreads over most shards


def test_connected_components_long_chain_pointer_jumping(spark):
    """A 64-node path graph converges within max_iters=10: pointer jumping
    compresses chain heights geometrically (plain propagation would need
    ~63 rounds to carry the min label down the chain)."""
    from pyspark.sql import Row

    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(63)]
    )
    # small_graph_threshold=0 forces the distributed propagation path (the
    # default would resolve 63 edges with the driver union-find shortcut)
    comps = connected_components(
        pairs, max_iters=10, small_graph_threshold=0
    ).collect()
    assert len(comps) == 64
    assert {r.comp for r in comps} == {0}  # one component, min-label 0


def test_connected_components_paths_agree(spark):
    """The driver union-find shortcut and the distributed min-label
    propagation must produce identical (id, comp) assignments."""
    from pyspark.sql import Row

    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        connected_components,
    )

    # two components + an isolated self-loop shape: {1,2,3,9}, {4,5}
    pairs = spark.createDataFrame(
        [Row(id_a=a, id_b=b) for a, b in [(2, 1), (3, 2), (9, 3), (5, 4)]]
    )
    small = {
        (r.id, r.comp) for r in connected_components(pairs).collect()
    }
    dist = {
        (r.id, r.comp)
        for r in connected_components(
            pairs, small_graph_threshold=0
        ).collect()
    }
    assert small == dist == {(1, 1), (2, 1), (3, 1), (9, 1), (4, 4), (5, 4)}


def test_curate_corpus_end_to_end(spark, sf_dir):
    """The curated output must be internally consistent: monotone funnel,
    no surviving near-dup pairs, no unredacted PII-shaped digit runs, and
    packing bins contiguous from 0 per (lang, shard)."""
    from aim357_2019_etl_and_ml_workshop_spark.operators.curation import (
        curate_corpus,
    )
    from aim357_2019_etl_and_ml_workshop_spark.sources.io import read_testdata

    docs = read_testdata(spark, sf_dir, "documents")
    funnel, curated = curate_corpus(docs)
    rows = {r.stage: r.n for r in funnel.collect()}
    assert (
        rows["input"]
        >= rows["quality"]
        >= rows["language"]
        >= rows["exact_dedup"]
        >= rows["neardup_dedup"]
        >= rows["decontaminated"]
        > 0
    )
    out = curated.collect()
    assert len(out) == rows["decontaminated"]
    # no 4+ digit runs survive redaction
    import re

    assert not any(re.search(r"[0-9]{4,}", r.text) for r in out)
    # bins start at 0 per (lang, shard) and are contiguous
    from collections import defaultdict

    bins = defaultdict(set)
    for r in out:
        bins[(r.lang, r.shard)].add(r.bin)
    for bs in bins.values():
        assert bs == set(range(max(bs) + 1))


def test_cap_per_group_balancing(spark):
    """cap_per_group keeps exactly cap rows per group, preferring the
    configured order, deterministically."""
    from aim357_2019_etl_and_ml_workshop_spark.operators.curation import (
        cap_per_group,
    )

    rows = [
        Row(doc_id=i, source=f"s{i % 2}", n_chars=100 - i) for i in range(10)
    ]
    df = spark.createDataFrame(rows)
    out = cap_per_group(
        df, "source", 2, order_by=[F.col("n_chars").desc(), F.col("doc_id")]
    ).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r.doc_id)
    # longest docs = lowest ids here (n_chars = 100 - id)
    assert sorted(by_src["s0"]) == [0, 2]
    assert sorted(by_src["s1"]) == [1, 3]


def test_leakage_safe_split_clusters_do_not_straddle(spark, sf_dir):
    """Every near-dup cluster must land entirely in one split, and the
    assignment must be deterministic across invocations."""
    from aim357_2019_etl_and_ml_workshop_spark.operators.curation import (
        leakage_safe_split,
    )

    docs = read_testdata(spark, sf_dir, "documents")
    out = leakage_safe_split(docs).collect()
    assert len(out) == docs.count()
    split_by_comp = {}
    for r in out:
        split_by_comp.setdefault(r.comp, set()).add(r.split)
    assert all(len(s) == 1 for s in split_by_comp.values())
    assert {r.split for r in out} == {"train", "test"}
    again = {(r.doc_id, r.split) for r in leakage_safe_split(docs).collect()}
    assert again == {(r.doc_id, r.split) for r in out}


def test_lsh_hot_bucket_guard(spark):
    """Buckets above max_bucket_size are dropped before the candidate
    self-join (skew guard); None disables the guard."""
    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
    )

    # 6 identical docs -> every band bucket has 6 members -> 15 pairs
    rows = [Row(doc_id=i, text="same words for every single document here") for i in range(6)]
    df = spark.createDataFrame(rows)
    sigs = minhash_signatures(df, "text", "doc_id", num_hashes=16)
    full = minhash_lsh_candidates(sigs, "doc_id", 16, bands=8, max_bucket_size=None)
    assert full.count() == 15
    capped = minhash_lsh_candidates(sigs, "doc_id", 16, bands=8, max_bucket_size=5)
    assert capped.count() == 0  # all buckets are hot -> dropped


def test_deterministic_stratified_sample_portable(spark):
    """Membership must be recomputable from hashlib.md5 (the oracle
    property) and unknown strata must be excluded."""
    import hashlib

    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        deterministic_stratified_sample,
    )

    rows = [Row(doc_id=i, lang="en" if i % 2 else "xx") for i in range(200)]
    df = spark.createDataFrame(rows)
    out = {r.doc_id for r in deterministic_stratified_sample(
        df, "lang", {"en": 0.5}).collect()}

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % 100

    want = {i for i in range(200) if i % 2 and bucket(i) < 50}
    assert out == want


def test_lsh_multiprobe_improves_recall(spark, sf_dir):
    """1-bit multiprobe must recall at least as much as plain probing at
    identical table count (query-side-only fan-out)."""
    emb = read_testdata(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_vec("embedding").alias("v")
    )
    q = emb.where(F.col("vec_id") % 100 == 0)
    exact = {(r.q_id, r.c_id) for r in brute_force_topk(emb, q, k=5).collect()}
    plain = {
        (r.q_id, r.c_id)
        for r in lsh_topk(emb, q, k=5, n_tables=16, n_bits=4).collect()
    }
    multi = {
        (r.q_id, r.c_id)
        for r in lsh_topk(
            emb, q, k=5, n_tables=16, n_bits=4, multiprobe=1
        ).collect()
    }
    r_plain = len(exact & plain) / len(exact)
    r_multi = len(exact & multi) / len(exact)
    assert r_multi >= r_plain
    assert r_multi >= 0.9


def test_lsh_topk_join_attach_fallback_matches_gather(spark, monkeypatch):
    """Past the gather budget lsh_topk re-attaches candidate vectors with
    an equi-join instead of broadcasting them; both paths rank the same
    candidate pairs with the same kernel, so on the sf0.01 embeddings they
    return the same top-k rows. The row cap is lowered to force the
    fallback, and the broadcast is spied on to prove which path ran."""
    import os

    from conftest import SF_SMALL

    sf001 = os.path.join(os.path.dirname(SF_SMALL), "sf0.01")
    emb = read_testdata(spark, sf001, "embeddings").select(
        "vec_id", as_double_vec("embedding").alias("v")
    )
    q = emb.where(F.col("vec_id") % 40 == 0)
    broadcasts = []
    real = similarity._gather_broadcast

    def spy(spark_, gather):
        broadcasts.append(len(gather[0]))
        return real(spark_, gather)

    monkeypatch.setattr(similarity, "_gather_broadcast", spy)

    def top(df):
        return sorted((r.q_id, r.c_id, r.sim) for r in df.collect())

    gathered = top(lsh_topk(emb, q, k=5))
    assert broadcasts == [500]
    monkeypatch.setattr(similarity, "_GATHER_MAX_ROWS", 4)
    attached = top(lsh_topk(emb, q, k=5))
    assert broadcasts == [500]  # no second broadcast: the join path ran
    assert len(gathered) == 5 * q.count()
    assert attached == gathered


def test_fuzzy_substitution_pairs_complete(spark):
    """Pigeonhole slice blocking must equal the all-pairs scan at
    max_subs <= chunks-1, and reject impossible parameters."""
    from aim357_2019_etl_and_ml_workshop_spark.operators.textanalysis import (
        fuzzy_substitution_pairs,
    )

    rows = [
        Row(id=1, s="alpha"), Row(id=2, s="alphx"),  # 1 sub
        Row(id=3, s="alpxx"),                         # 2 subs from alpha
        Row(id=4, s="beta"),                          # different length
        Row(id=5, s="alpha"),                         # exact dup (0 subs)
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r.id_a, r.id_b): r.distance
        for r in fuzzy_substitution_pairs(df, "s", "id").collect()
    }
    # brute force: same length, levenshtein <= 1
    import itertools

    want = {}
    data = {r.id: r.s for r in rows}
    def lev(a, b):
        if len(a) != len(b):
            return 99
        return sum(x != y for x, y in zip(a, b))
    for i, j in itertools.combinations(sorted(data), 2):
        d = lev(data[i], data[j])
        if d <= 1:
            want[(i, j)] = d
    assert got == want
    assert (1, 2) in got and (1, 5) in got and got[(1, 5)] == 0
    with pytest.raises(ValueError):
        fuzzy_substitution_pairs(df, "s", "id", max_subs=2, chunks=2)


def test_fuzzy_per_char_deletion_constant_prefix(spark):
    """Deletion-neighborhood blocking on sequential entity names (constant
    prefix + digits — the shape that degenerates single-slice pigeonhole
    blocking into the full cross product): per-character deletion must
    equal brute force, and its candidate volume must stay linear in the
    true pair count, not quadratic in the table."""
    import itertools

    from aim357_2019_etl_and_ml_workshop_spark.operators.textanalysis import (
        fuzzy_substitution_pairs,
    )

    rows = [Row(id=i, s=f"Entity#{i:05d}") for i in range(1, 301)]
    df = spark.createDataFrame(rows)
    got = {
        (r.id_a, r.id_b): r.distance
        for r in fuzzy_substitution_pairs(
            df, "s", "id", max_subs=1, chunks=12
        ).collect()
    }
    data = {r.id: r.s for r in rows}
    want = {}
    for i, j in itertools.combinations(sorted(data), 2):
        d = sum(x != y for x, y in zip(data[i], data[j]))
        if d <= 1:
            want[(i, j)] = d
    assert got == want
    assert len(want) > 0  # e.g. 00001 vs 00002 differ in one digit


def test_incremental_neardup_matches_all_pairs(spark):
    """Batch-vs-corpus banded dedup must equal the quadratic new x corpus
    Hamming scan at max_hamming <= chunks-1 (pigeonhole completeness),
    and never emit new-new or corpus-corpus pairs."""
    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        incremental_near_duplicates,
        simhash_fingerprints,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        Row(doc_id=i, text=(base + f" tail{i % 7}") if i % 3 else base)
        for i in range(1, 41)
    ]
    docs = spark.createDataFrame(rows)
    new = docs.where(F.col("doc_id") % 4 == 0)
    corpus = docs.where(F.col("doc_id") % 4 != 0)
    got = {
        (r.new_id, r.corpus_id): r.hamming
        for r in incremental_near_duplicates(
            new, corpus, "text", "doc_id", max_hamming=3, chunks=4
        ).collect()
    }
    fps = {
        r.doc_id: r.simhash
        for r in simhash_fingerprints(docs, "text", "doc_id").collect()
    }
    want = {}
    for n in range(4, 41, 4):
        for c in fps:
            if c % 4 == 0:
                continue
            d = bin(fps[n] ^ fps[c]).count("1")
            if d <= 3:
                want[(n, c)] = d
    assert got == want and len(want) > 0
    assert all(n % 4 == 0 and c % 4 != 0 for n, c in got)


def test_incremental_neardup_precomputed_state_matches_derived(spark):
    """corpus_banded= (the persisted model-state path — VERDICT r03 #3)
    must emit exactly the pairs of the derive-from-corpus_df path, with
    and without the hot-bucket cap, and must work with corpus_df=None."""
    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        incremental_near_duplicates,
        simhash_banding_state,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        Row(doc_id=i, text=(base + f" tail{i % 7}") if i % 3 else base)
        for i in range(1, 41)
    ]
    docs = spark.createDataFrame(rows)
    new = docs.where(F.col("doc_id") % 4 == 0)
    corpus = docs.where(F.col("doc_id") % 4 != 0)
    state = simhash_banding_state(corpus, "text", "doc_id", chunks=4)

    for cap in (None, 5):
        derived = {
            (r.new_id, r.corpus_id): r.hamming
            for r in incremental_near_duplicates(
                new, corpus, "text", "doc_id", max_hamming=3, chunks=4,
                max_bucket_size=cap,
            ).collect()
        }
        from_state = {
            (r.new_id, r.corpus_id): r.hamming
            for r in incremental_near_duplicates(
                new, None, "text", "doc_id", max_hamming=3, chunks=4,
                max_bucket_size=cap, corpus_banded=state,
            ).collect()
        }
        assert from_state == derived and len(derived) > 0


@pytest.mark.parametrize(
    "bits,chunks,max_hamming,hash_fn",
    [
        (64, 4, 3, "xxhash64"),   # even sub widths (48 = 4x12)
        (60, 4, 3, "portable60"), # uneven sub widths (45 = 12+11+11+11)
        (64, 4, 0, "xxhash64"),   # n_sub=1: whole complement is the key
        (64, 8, 2, "xxhash64"),   # narrow chunks, 3 slices of 56 bits
        (60, 3, 2, "portable60"), # chunks=3, comp=40 into 3 slices
    ],
)
def test_simhash_two_level_banding_equals_all_pairs(
    spark, bits, chunks, max_hamming, hash_fn
):
    """Complete-mode banding (now two-level: clean chunk + clean slice of
    its complement) must return EXACTLY the all-pairs popcount scan over
    the same fingerprints, across even/uneven slice geometries and the
    n_sub=1 degenerate case. The corpus mixes a boilerplate clique, close
    variants, and unrelated docs so every Hamming regime appears."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = (
        [Row(doc_id=i, text=base) for i in range(1, 8)]
        + [Row(doc_id=10 + i, text=base + f" tail{i}") for i in range(8)]
        + [
            Row(doc_id=30 + i, text=f"unrelated doc {i} with words {i * 3} "
                f"and {i * 11} plus filler token{i % 5}")
            for i in range(10)
        ]
    )
    docs = spark.createDataFrame(rows)
    fps = {
        r.doc_id: r.simhash
        for r in simhash_fingerprints(
            docs, "text", "doc_id", bits=bits, hash_fn=hash_fn
        ).collect()
    }
    want = {}
    ids = sorted(fps)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            d = bin((fps[a] ^ fps[b]) & ((1 << bits) - 1)).count("1")
            if d <= max_hamming:
                want[(a, b)] = d
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_duplicates(
            docs, "text", "doc_id", max_hamming=max_hamming,
            chunks=chunks, bits=bits, hash_fn=hash_fn,
        ).collect()
    }
    assert got == want
    if max_hamming > 0:
        assert len(want) > 0  # the clique keeps the test non-vacuous


def test_simhash_banding_recall_mode_two_level_preserves_answer(spark):
    """allow_incomplete mode's contract is {pairs sharing >= 1 chunk}
    INTERSECTED with the Hamming filter — pinned here by brute force
    over the fingerprints (shared-chunk AND ham <= H), so any future
    change to the banding geometry (e.g. extending the two-level
    sub-key into this mode, measured as an OOM-grade loss at sf10 —
    see simhash_near_duplicates' docstring) must preserve the output
    set exactly."""
    bits, chunks, H = 64, 4, 8
    width = bits // chunks
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = (
        [Row(doc_id=i, text=base) for i in range(1, 6)]
        + [Row(doc_id=10 + i, text=base + f" tail{i} extra{i % 3}")
           for i in range(10)]
        + [Row(doc_id=40 + i, text=f"noise doc {i} tokens {i * 5} {i * 9}")
           for i in range(8)]
    )
    docs = spark.createDataFrame(rows)
    fps = {
        r.doc_id: r.simhash & ((1 << bits) - 1)
        for r in simhash_fingerprints(docs, "text", "doc_id").collect()
    }
    mask = (1 << width) - 1
    want = {}
    ids = sorted(fps)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            x = fps[a] ^ fps[b]
            d = bin(x).count("1")
            shares = any(
                (x >> (c * width)) & mask == 0 for c in range(chunks)
            )
            if shares and d <= H:
                want[(a, b)] = d
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_duplicates(
            docs, "text", "doc_id", max_hamming=H, chunks=chunks,
            allow_incomplete=True,
        ).collect()
    }
    assert got == want
    assert len(want) > 0


def test_simhash_pigeonhole_guard_raises(spark):
    """max_hamming > chunks-1 silently under-recalls; both banded entry
    points must refuse it unless allow_incomplete=True is passed."""
    import pytest

    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        incremental_near_duplicates,
        simhash_near_duplicates,
    )

    docs = spark.createDataFrame([Row(doc_id=1, text="a b c")])
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_duplicates(docs, "text", "doc_id", max_hamming=4, chunks=4)
    with pytest.raises(ValueError, match="pigeonhole"):
        incremental_near_duplicates(
            docs, docs, "text", "doc_id", max_hamming=4, chunks=4
        )
    # the opt-in path still constructs a plan (banding-recall mode)
    simhash_near_duplicates(
        docs, "text", "doc_id", max_hamming=4, chunks=4, allow_incomplete=True
    )
    # and missing both corpus inputs is an explicit error
    with pytest.raises(ValueError, match="corpus"):
        incremental_near_duplicates(docs, None, "text", "doc_id")


def test_screen_exact_duplicates_flags_cross_side_dups(spark):
    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        screen_exact_duplicates,
    )

    corpus = spark.createDataFrame(
        [Row(doc_id=1, text="Alpha  Beta gamma"), Row(doc_id=2, text="unique corpus doc")]
    )
    new = spark.createDataFrame(
        [
            Row(doc_id=10, text="alpha beta GAMMA"),  # dup modulo normalization
            Row(doc_id=11, text="fresh content here"),
        ]
    )
    got = {
        r.doc_id: r.is_dup
        for r in screen_exact_duplicates(new, corpus, "text", "doc_id").collect()
    }
    assert got == {10: True, 11: False}


def test_embedding_neardup_tiled_exact_and_banded_agree(spark, monkeypatch):
    """embedding_near_duplicates' in-budget strategy (tiled matmul sweep)
    must equal the numpy brute-force pair set EXACTLY — it is not an
    approximation — and the over-budget banded-LSH fallback (forced by
    lowering the gather row cap) must be a verified subset that still
    recalls every high-similarity pair on this geometry (deterministic
    seeds)."""
    import numpy as np

    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        embedding_near_duplicates,
    )

    rng = np.random.RandomState(7)
    base = rng.randn(40, 8)
    vecs = np.vstack([base, base[:10] + 0.05 * rng.randn(10, 8)])
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, v array<double>",
    )
    norms = np.linalg.norm(vecs, axis=1)
    sims = np.round((vecs @ vecs.T) / np.outer(norms, norms), 6)
    expect = {
        (i, j): sims[i, j]
        for i in range(len(vecs))
        for j in range(i + 1, len(vecs))
        if sims[i, j] >= 0.9
    }
    assert len(expect) >= 10  # the perturbed copies are near-dups

    tiled = {
        (r.id_a, r.id_b): r.sim
        for r in embedding_near_duplicates(
            df, "vec_id", "v", threshold=0.9
        ).collect()
    }
    assert set(tiled) == set(expect)
    for k in expect:
        assert abs(tiled[k] - expect[k]) <= 1e-6

    monkeypatch.setattr(similarity, "_GATHER_MAX_ROWS", 4)
    banded = {
        (r.id_a, r.id_b)
        for r in embedding_near_duplicates(
            df, "vec_id", "v", threshold=0.9
        ).collect()
    }
    assert banded <= set(expect)
    assert banded == set(expect)  # 16 tables x 4 bits: recall 1 here


# ---------------------------------------------------------------------------
# Banded cluster path: value-level checks (VERDICT r04 "Next round" #6).
# Strict label equality vs the exact path is only guaranteed in the banded
# path's DESIGN regime (duplicate pairs well above the banding threshold,
# where pigeonhole/band recall is deterministic-complete); below it the
# recall<1 waiver applies. So: (a) exact equality on a design-regime
# corpus, (b) zero-false-positive containment on real testdata.
# ---------------------------------------------------------------------------


def _components_py(edges, nodes):
    """Driver-side union-find ground truth (blocking-independent)."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def _jaccard_3gram(a: str, b: str) -> float:
    def sh(t):
        toks = t.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    sa, sb = sh(a), sh(b)
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


def test_banded_clusters_equal_exact_in_design_regime(spark):
    """On a corpus whose true duplicates are exact copies or 1-2 token
    edits (3-gram Jaccard >= ~0.9 — the boilerplate/crawl-dup regime the
    banded path is built for), the full banded pipeline (minhash ->
    banding -> exact-Jaccard verify -> connected components) must produce
    the IDENTICAL (id, component) labeling as a blocking-independent
    all-pairs ground truth: band recall at s>=0.9 with 16 bands x 2 rows
    is complete on any fixed corpus (deterministic seeds — no flake), and
    the exact verification step removes every band false positive."""
    import random

    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        connected_components,
    )

    rng = random.Random(42)
    vocab = [f"tok{i}" for i in range(400)]
    texts = {}
    # 40 mutually-dissimilar base docs (disjoint-ish random vocab draws)
    for i in range(40):
        texts[i] = " ".join(rng.choice(vocab) for _ in range(60))
    # 5 duplicate groups: exact copies and 1-2 token edits of a fresh base
    next_id = 100
    for g in range(5):
        base = " ".join(rng.choice(vocab) for _ in range(60))
        group = [base]
        for _ in range(2 + g % 3):
            toks = base.split()
            for _ in range(1 + g % 2):  # 1-2 single-token edits
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
            group.append(" ".join(toks))
        for t in group:
            texts[next_id] = t
            next_id += 1
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in texts.items()]
    )

    threshold = 0.5
    ids = sorted(texts)
    exact_edges = [
        (a, b)
        for ai, a in enumerate(ids)
        for b in ids[ai + 1 :]
        if _jaccard_3gram(texts[a], texts[b]) >= threshold
    ]
    assert len(exact_edges) >= 10  # the dup groups actually connect
    want = _components_py(exact_edges, {n for e in exact_edges for n in e})

    pairs = minhash_near_duplicates(
        docs, "text", "doc_id", threshold=threshold, num_hashes=32, bands=16
    )
    got_pairs = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got_pairs == set(exact_edges)
    got = {
        r[0]: r[1]
        for r in connected_components(pairs, "id_a", "id_b").collect()
    }
    assert got == want


def test_banded_pairs_subset_of_exact_on_testdata(spark, sf_dir):
    """On real testdata at the registry's low threshold (0.05) the banded
    pair source may MISS low-similarity pairs (documented recall waiver),
    but must never INVENT one: every banded pair must appear in the exact
    shingle self-join's pair set with Jaccard >= threshold — the
    value-level half of neardup_clusters_banded that is checkable without
    banding-recall assumptions."""
    from aim357_2019_etl_and_ml_workshop_spark import queries as q

    exact = {
        (r.doc_a, r.doc_b)
        for r in q.queries()["ngram_jaccard_pairs"](spark, sf_dir).collect()
    }
    banded = {
        (r.id_a, r.id_b)
        for r in minhash_near_duplicates(
            read_testdata(spark, sf_dir, "documents").select("doc_id", "text"),
            "text",
            "doc_id",
            threshold=0.05,
            num_hashes=32,
            bands=16,
        ).collect()
    }
    assert banded, "banded path found nothing — test corpus regressed"
    assert banded <= exact, f"false positives: {sorted(banded - exact)[:5]}"


def test_skew_split_boilerplate_regime_pair_set_equal(spark):
    """The skew split's DESIGN regime, scaled to pytest (VERDICT r04 #3):
    ONE boilerplate text shared by many docs makes every simhash chunk a
    single hot bucket whose C(m, 2) pair emission the plain join serializes
    onto one task. Salting must return the IDENTICAL pair set — ids and
    hamming values, not just counts. m=120 keeps the C(m,2)=7140-pair
    answer collectable; PERF.md r5 records the same shape at m=10^4 over
    sf1 for the wall-clock crossover (its harness is removed, see git
    history)."""
    boiler = (
        "subscribe to our newsletter terms of service privacy policy all "
        "rights reserved copyright contact us about careers press blog"
    )
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=boiler) for i in range(120)]
        + [
            Row(doc_id=1000 + i, text=f"unique background document number {i} "
                f"with distinct words {i * 7} and {i * 13}")
            for i in range(40)
        ]
    )
    kw = dict(max_hamming=3, chunks=4)
    plain = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_duplicates(docs, "text", "doc_id", **kw).collect()
    }
    salted = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_duplicates(
            docs, "text", "doc_id",
            skew_split_bucket_size=50, n_salt=8, **kw,
        ).collect()
    }
    assert len(plain) >= 120 * 119 // 2  # the boilerplate clique is all pairs
    assert salted == plain


def test_temperature_mixture_weights_semantics(spark):
    """alpha=0.3 must flatten toward uniform WITHOUT reordering: weights
    sum to 1, below-natural-share sources get oversample > 1 (and
    above-share sources < 1), share order is preserved, and alpha=1
    recovers the natural distribution exactly."""
    import math

    from aim357_2019_etl_and_ml_workshop_spark.operators.curation import (
        temperature_mixture_weights,
    )

    rows = [(i, f"s{i % 4}", [100, 400, 1500, 8000][i % 4]) for i in range(64)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")

    out = {
        r["source"]: r
        for r in temperature_mixture_weights(
            docs, "source", "n_chars", alpha=0.3, budget_docs=1000
        ).collect()
    }
    assert set(out) == {"s0", "s1", "s2", "s3"}
    assert abs(sum(r["weight"] for r in out.values()) - 1.0) < 1e-4
    assert abs(sum(r["expected_docs"] for r in out.values()) - 1000.0) < 0.1
    # flattening: small sources oversampled, big sources undersampled,
    # natural-share ORDER preserved (alpha in (0,1] is monotone in p)
    shares = sorted(out.values(), key=lambda r: r["p_source"])
    assert shares[0]["oversample"] > 1.0 > shares[-1]["oversample"]
    weights = [r["weight"] for r in shares]
    assert weights == sorted(weights)
    # alpha=1 is natural sampling: weight == p_source for every source
    nat = temperature_mixture_weights(
        docs, "source", "n_chars", alpha=1.0, budget_docs=1000
    ).collect()
    for r in nat:
        assert math.isclose(r["weight"], r["p_source"], abs_tol=2e-6)
        assert math.isclose(r["oversample"], 1.0, abs_tol=2e-6)


def test_remove_repeated_spans_semantics(spark):
    """Exact substring dedup removal (r7): the span's minimum doc keeps
    its text; other docs lose exactly the covered positions; disjoint
    docs are untouched."""
    from pyspark.sql import Row

    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        remove_repeated_spans,
    )

    shared = "one two three four five"
    rows = [
        Row(doc_id=1, text=f"{shared} tail1 tail2"),
        Row(doc_id=2, text=f"head1 head2 {shared}"),
        Row(doc_id=3, text="alpha beta gamma delta epsilon zeta"),
    ]
    out = {
        r["doc_id"]: r
        for r in remove_repeated_spans(
            spark.createDataFrame(rows), "text", "doc_id", n=5, min_docs=2
        ).collect()
    }
    # doc 1 is canonical (min id): nothing removed
    assert out[1]["n_removed"] == 0 and out[1]["n_kept"] == 7
    # doc 2 loses the 5 shared tokens, keeps its 2 heads
    assert out[2]["n_removed"] == 5 and out[2]["n_kept"] == 2
    import hashlib
    assert out[2]["cleaned_md5"] == hashlib.md5(b"head1 head2").hexdigest()
    # doc 3 shares nothing
    assert out[3]["n_removed"] == 0 and out[3]["n_kept"] == 6


def test_semantic_dedup_edges(spark):
    """Code-review r7 pins: zero-norm vectors are never dropped (cosine
    undefined; Spark NULL vs DuckDB NaN would diverge without the guard),
    n_sign_dims=0 degrades to one cell instead of crashing, and
    keep-min-id holds for identical vectors."""
    from pyspark.sql import Row

    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        semantic_dedup,
    )

    rows = [
        Row(vec_id=0, embedding=[0.0] * 4),
        Row(vec_id=1, embedding=[0.0] * 4),
        Row(vec_id=2, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=3, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=4, embedding=[-1.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {
        r["vec_id"]: (r["cell"], r["kept"])
        for r in semantic_dedup(
            df, "vec_id", "embedding", threshold=0.9, n_sign_dims=0
        ).collect()
    }
    assert all(c == 0 for c, _ in out.values())  # single cell at n=0
    assert out[0][1] and out[1][1]  # zero-norm: verdict row, never dropped
    assert out[2][1] and not out[3][1]  # identical vectors: min id kept
    assert out[4][1]  # anti-parallel: cosine -1 < threshold, kept

    # sign-cells separate by first-dim sign at n=1 — no cross-cell compare
    out1 = {
        r["vec_id"]: r["cell"]
        for r in semantic_dedup(
            df, "vec_id", "embedding", threshold=0.9, n_sign_dims=1
        ).collect()
    }
    assert out1[2] == 1 and out1[4] == 0


def test_semantic_dedup_blocked_real_embeddings_and_string_ids(spark, sf_dir):
    """The blocked strategy is a contract twin of the joined form
    (VERDICT r07 #1): identical verdicts on the real embeddings table,
    and on a string-id frame with NULL and zero-norm vectors — the id
    type must survive the Arrow round-trip (kernel schema derives it
    from the input), NULL and zero-norm vectors must get kept=true on
    both paths, and an unknown or removed strategy must fail fast."""
    import pytest
    from pyspark.sql import Row

    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        semantic_dedup,
    )
    from aim357_2019_etl_and_ml_workshop_spark.sources.io import read_testdata

    emb = read_testdata(spark, sf_dir, "embeddings")
    kw = dict(threshold=0.35, n_sign_dims=6)
    joined = sorted(
        tuple(r)
        for r in semantic_dedup(emb, "vec_id", "embedding", **kw).collect()
    )
    blocked = sorted(
        tuple(r)
        for r in semantic_dedup(
            emb, "vec_id", "embedding", strategy="blocked", **kw
        ).collect()
    )
    assert blocked == joined and len(blocked) == emb.count()

    rows = [
        Row(vec_id="d1", embedding=[1.0, 0.0]),
        Row(vec_id="d2", embedding=[1.0, 0.0]),
        Row(vec_id="d3", embedding=None),
        Row(vec_id="d4", embedding=[0.0, 0.0]),
    ]
    sdf = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    for strategy in ("joined", "blocked"):
        out = semantic_dedup(
            sdf, "vec_id", "embedding", threshold=0.9, n_sign_dims=0,
            strategy=strategy,
        )
        assert out.schema["vec_id"].dataType.simpleString() == "string"
        got = {r["vec_id"]: r["kept"] for r in out.collect()}
        assert got == {"d1": True, "d2": False, "d3": True, "d4": True}, strategy

    for strategy in ("nope", "tiled"):
        with pytest.raises(ValueError, match="strategy"):
            semantic_dedup(sdf, "vec_id", "embedding", strategy=strategy)


def test_semantic_dedup_eager_release_frees_corpus_cache(spark):
    """VERDICT r07 wrong #2 / ADVICE r07: semantic_dedup must leave no
    corpus-scale cached frame behind. Both strategies cache a corpus
    projection carrying the full vectors (~n*dim*8 bytes) for the call;
    the only surviving persistent RDD is the narrow verdict
    localCheckpoint — delta-counted against the session's pre-existing
    caches and bounded in bytes well below the vector cache's size."""
    import numpy as np
    from pyspark.sql import Row

    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        semantic_dedup,
    )

    rng = np.random.default_rng(7)
    # vector cache ~4 MB; verdict checkpoint ~25 KB. Few rows, wide
    # vectors and 8 sign cells: the joined form's interpreted fold costs
    # per same-cell PAIR
    n, dim = 1000, 512
    df = spark.createDataFrame(
        [
            Row(vec_id=i, embedding=[float(x) for x in rng.normal(size=dim)])
            for i in range(n)
        ],
        "vec_id bigint, embedding array<double>",
    )

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    def cached_bytes(ids):
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(
            i.memSize() + i.diskSize() for i in infos if i.id() in ids
        )

    for strategy in ("joined", "blocked"):
        before = persistent_ids()
        out = semantic_dedup(
            df, "vec_id", "embedding", threshold=0.99, n_sign_dims=3,
            strategy=strategy,
        )
        assert out.count() == n  # already materialized by the checkpoint
        new = persistent_ids() - before
        # exactly the verdict checkpoint — the corpus vector cache is gone
        assert len(new) == 1, (strategy, new)
        assert cached_bytes(new) < 1 << 20, (
            f"{strategy}: corpus-scale frame still cached"
        )


def test_semantic_dedup_blocked_crosses_block_boundaries(spark):
    """The blocked kernel's cross-block branch only runs when a CELL
    splits into several blocks — pin a 2500-row single-cell corpus
    (derived sizing: 313-row blocks, so 8 blocks and 36 block pairs)
    against a direct numpy re-derivation of the contract:
    dropped[j] = any i<j with round(cos, 6) >= threshold."""
    import math

    import numpy as np
    from pyspark.sql import Row

    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        derive_semantic_block_rows,
        semantic_dedup,
    )

    rng = np.random.default_rng(42)
    n, dim, th = 2500, 8, 0.9
    assert math.ceil(n / derive_semantic_block_rows(n)) == 8  # multi-block
    # low-dim vectors with repeats: plenty of >=0.9 cosines, plus a few
    # zero vectors to pin the NaN guard across block boundaries
    mat = rng.integers(-2, 3, size=(n, dim)).astype(np.float64)
    mat[::997] = 0.0
    norms = np.linalg.norm(mat, axis=1)
    with np.errstate(invalid="ignore", divide="ignore"):
        sims = np.round((mat @ mat.T) / np.outer(norms, norms), 6)
    hit = sims >= th  # NaN rows/cols are False — zero-norm never drops
    expected = {
        i: not hit[:i, i].any() for i in range(n)
    }

    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in mat[i]]) for i in range(n)],
        "vec_id bigint, embedding array<double>",
    )
    got = {
        r["vec_id"]: r["kept"]
        for r in semantic_dedup(
            df, "vec_id", "embedding", threshold=th, n_sign_dims=0,
            strategy="blocked",
        ).collect()
    }
    n_dropped = sum(1 for k in expected.values() if not k)
    assert 0 < n_dropped < n  # the corpus actually exercises both verdicts
    assert got == expected


def test_semantic_dedup_fitted_cells_via_cell_col(spark, sf_dir):
    """cell_col= swaps sign cells for PRECOMPUTED cells (the SemDeDup
    paper's fitted k-means cells via mlpipeline.cluster_embeddings):
    joined and blocked strategies must agree verdict-for-verdict on the
    real embeddings, the emitted cell must be the provided assignment,
    and a NULL cell must keep its rows on both paths (it never
    equi-joins in the joined form)."""
    from pyspark.sql import Row

    from aim357_2019_etl_and_ml_workshop_spark.operators.dedup import (
        semantic_dedup,
    )
    from aim357_2019_etl_and_ml_workshop_spark.operators.mlpipeline import (
        cluster_embeddings,
    )
    from aim357_2019_etl_and_ml_workshop_spark.sources.io import read_testdata

    emb = read_testdata(spark, sf_dir, "embeddings")
    cells = cluster_embeddings(emb, "embedding", "vec_id", k=4)
    with_cells = emb.join(cells, "vec_id")
    kw = dict(threshold=0.35, cell_col="cluster")
    joined = sorted(
        tuple(r)
        for r in semantic_dedup(
            with_cells, "vec_id", "embedding", **kw
        ).collect()
    )
    blocked = sorted(
        tuple(r)
        for r in semantic_dedup(
            with_cells, "vec_id", "embedding", strategy="blocked", **kw
        ).collect()
    )
    assert blocked == joined
    assert {c for _, c, _ in blocked} <= set(range(4))  # emitted = provided
    # same corpus under sign cells differs from fitted cells somewhere
    # (sanity that cell_col actually changed the contract's geometry)
    sign = sorted(
        tuple(r)
        for r in semantic_dedup(
            emb, "vec_id", "embedding", threshold=0.35, n_sign_dims=6
        ).collect()
    )
    assert sign != blocked

    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0], grp=None),
        Row(vec_id=2, embedding=[1.0, 0.0], grp=None),
        Row(vec_id=3, embedding=[1.0, 0.0], grp=7),
        Row(vec_id=4, embedding=[1.0, 0.0], grp=7),
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, grp bigint"
    )
    for strategy in ("joined", "blocked"):
        got = {
            r["vec_id"]: r["kept"]
            for r in semantic_dedup(
                df, "vec_id", "embedding", threshold=0.9,
                cell_col="grp", strategy=strategy,
            ).collect()
        }
        # NULL-cell rows never compare (kept); the real cell keeps min id
        assert got == {1: True, 2: True, 3: True, 4: False}, strategy


def test_driver_query_buckets_equal_distributed_udf(spark):
    """r13: lsh_topk's query-side buckets moved from a distributed Arrow
    UDF pass (_multi_table_buckets + multiprobe explode/distinct) to a
    driver-side numpy computation over the already-collected batch. The
    two must produce the IDENTICAL (q_id, table, bucket) set, multiprobe
    included — same stacked matmul, so the sign bits match bit-for-bit."""
    import numpy as np
    from pyspark.sql import functions as F

    from aim357_2019_etl_and_ml_workshop_spark.operators.similarity import (
        _driver_query_buckets,
        _multi_table_buckets,
        hyperplanes,
    )

    rng = np.random.default_rng(7)
    n, dim, n_tables, n_bits = 40, 16, 8, 4
    vecs = rng.standard_normal((n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    qmap = {i: vecs[i] for i in range(n)}
    all_planes = [hyperplanes(dim, n_bits, 42 + 1000 * t) for t in range(n_tables)]

    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "q_id bigint, qv array<double>",
    )
    for multiprobe in (0, 1):
        dist = _multi_table_buckets(df, "qv", all_planes).select(
            "q_id", "table", "bucket"
        )
        if multiprobe:
            probes = [F.col("bucket")] + [
                F.col("bucket").bitwiseXOR(F.lit(1 << b))
                for b in range(n_bits)
            ]
            dist = dist.select(
                "q_id", "table", F.explode(F.array(*probes)).alias("bucket")
            ).distinct()
        want = {(r["q_id"], r["table"], r["bucket"]) for r in dist.collect()}
        got = set(_driver_query_buckets(qmap, all_planes, multiprobe))
        assert got == want, f"multiprobe={multiprobe}"
    assert _driver_query_buckets({}, all_planes, 1) == []
