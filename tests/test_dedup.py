from __future__ import annotations

import pytest

from weatherdatapipeline_spark.operators.dedup import (
    dedup_exact,
    jaccard_near_duplicates,
    minhash_near_duplicates,
    shingle_pairs,
    simhash,
    simhash_near_duplicates,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "The  quick brown FOX jumps over the lazy dog"),  # case/ws variant of 0
    (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
    (3, "completely different text about spark engines here"),
    (4, "completely different text about spark engines here today"),  # near-dup of 3
    (5, "zzz yyy xxx www vvv uuu ttt sss"),  # unrelated
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_dedup_exact_normalized(docs):
    out = dedup_exact(docs, keys=["text"], tiebreaker="doc_id", normalize_text_col="text")
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [0, 2, 3, 4, 5]  # 1 collapses into 0 (case/whitespace)


def test_jaccard_finds_known_pairs(docs):
    pairs = jaccard_near_duplicates(docs, threshold=0.3)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (0, 1) in got  # normalized-identical → jaccard 1.0
    assert (0, 2) in got  # one-word change
    assert (3, 4) in got
    assert all(5 not in p for p in got)


def test_jaccard_value_exact(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r for r in jaccard_near_duplicates(docs, threshold=0.3).collect()}
    assert pairs[(0, 1)]["jaccard"] == 1.0
    # doc0/doc2: 9 words → 7 trigram shingles each, 6 shared
    r = pairs[(0, 2)]
    assert (r["size_a"], r["size_b"], r["common"]) == (7, 7, 6)
    assert abs(r["jaccard"] - 6 / 8) < 1e-9


def test_minhash_recall_of_strong_pairs(docs):
    """LSH candidates must recover the high-similarity pairs (jaccard ≥ 0.75
    with 16 bands × 4 rows: P(candidate) = 1-(1-s^4)^16 ≥ 0.996)."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_near_duplicates(docs, threshold=0.75).collect()
    }
    approx = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_near_duplicates(docs, threshold=0.3).collect()
    }
    assert exact <= approx


def test_minhash_jaccard_matches_exact_on_candidates(docs):
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_near_duplicates(docs, threshold=0.3).collect()
    }
    for r in minhash_near_duplicates(docs, threshold=0.3).collect():
        key = (r["doc_a"], r["doc_b"])
        assert key in exact
        assert abs(r["jaccard"] - exact[key]) < 1e-9  # verify step is exact


def test_df_cut_bounds_hot_shingle_candidates(spark):
    """A boilerplate shingle shared by every doc is a skew bomb: the
    shingle self-join would emit C(n_docs, 2) candidate rows. The default
    ("auto") df-cut must drop it so candidate volume stays bounded."""
    hot = spark.createDataFrame(
        [(i, f"u{i} v{i} w{i} shared boilerplate footer text") for i in range(120)],
        "doc_id long, text string",
    )
    # 7 tokens -> 5 trigrams/doc; "shared boilerplate footer" and
    # "boilerplate footer text" have df=120 > auto cap max(100, ceil(1.2))
    uncut = shingle_pairs(hot, max_shingle_freq=None)
    cut = shingle_pairs(hot, max_shingle_freq="auto")
    assert uncut.count() - cut.count() == 2 * 120
    # explicit-cap boundary: df <= cap keeps, df > cap cuts
    assert shingle_pairs(hot, max_shingle_freq=120).count() == uncut.count()
    assert shingle_pairs(hot, max_shingle_freq=119).count() == cut.count()
    # end-to-end: with the hot shingles cut (default on), no candidate
    # pair survives — even at threshold 0 nothing joins
    assert jaccard_near_duplicates(hot, threshold=0.0).count() == 0


def test_df_cut_auto_noop_on_small_corpus(docs):
    """Below the 100-doc floor nothing is ever cut — exact Jaccard output
    is unchanged by the default."""
    with_cut = {tuple(r) for r in jaccard_near_duplicates(docs, threshold=0.3).collect()}
    without = {
        tuple(r)
        for r in jaccard_near_duplicates(docs, threshold=0.3, max_shingle_freq=None).collect()
    }
    assert with_cut == without


@pytest.mark.parametrize("portable", [False, True])
def test_dedup_incremental_neardup(spark, portable):
    """Append-only near-dup dedup: batch 2 docs colliding with the indexed
    batch-1 corpus (or each other) are dropped; genuinely novel docs pass
    and extend the index. Parametrized over both hash families (xxhash64
    scale path, portable md5 oracle path) — identical admit/drop
    decisions on planted duplicates."""
    from weatherdatapipeline_spark.operators.dedup import (
        dedup_incremental_neardup,
        minhash_band_index,
    )

    batch1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    index = minhash_band_index(batch1, portable=portable)
    batch2 = spark.createDataFrame(
        [
            (10, "The  quick brown FOX jumps over the lazy dog"),  # dup of 1
            (11, "completely different text about spark engines here"),
            (12, "completely different text about spark engines here"),  # dup of 11
            (13, "zzz yyy xxx www vvv uuu ttt sss"),
        ],
        "doc_id long, text string",
    )
    novel, updated = dedup_incremental_neardup(batch2, index, portable=portable)
    assert {r["doc_id"] for r in novel.collect()} == {11, 13}
    # updated index answers for the docs it admitted: re-offering the
    # admitted text is now a dup
    batch3 = spark.createDataFrame(
        [(20, "completely different text about spark engines here")],
        "doc_id long, text string",
    )
    novel3, _ = dedup_incremental_neardup(batch3, updated, portable=portable)
    assert novel3.count() == 0


def test_dedup_incremental_neardup_precomputed_batch_index(spark):
    """The r15 ``batch_index`` fast path (a caller-supplied band index of
    the incoming batch, e.g. from a combined corpus+batch signature pass)
    must make the identical admit/drop decisions and produce the
    identical updated index as the build-it-here default."""
    from weatherdatapipeline_spark.operators.dedup import (
        dedup_incremental_neardup,
        minhash_band_index,
    )

    batch1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    index = minhash_band_index(batch1, portable=True)
    batch2 = spark.createDataFrame(
        [
            (10, "The  quick brown FOX jumps over the lazy dog"),  # dup of 1
            (11, "completely different text about spark engines here"),
            (12, "completely different text about spark engines here"),  # dup of 11
            (13, "zzz yyy xxx www vvv uuu ttt sss"),
        ],
        "doc_id long, text string",
    )
    pre = minhash_band_index(batch2, portable=True)
    novel_a, upd_a = dedup_incremental_neardup(batch2, index, portable=True)
    novel_b, upd_b = dedup_incremental_neardup(
        batch2, index, portable=True, batch_index=pre
    )
    assert {r["doc_id"] for r in novel_b.collect()} == {11, 13}
    assert {r["doc_id"] for r in novel_a.collect()} == {
        r["doc_id"] for r in novel_b.collect()
    }
    rows_a = {tuple(r) for r in upd_a.collect()}
    rows_b = {tuple(r) for r in upd_b.collect()}
    assert rows_a == rows_b


def test_decontaminate_drops_colliding_docs(spark):
    from weatherdatapipeline_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),   # contains eval 5-gram
            (2, "one two three four five six seven"),     # clean
            (3, "alpha beta gamma delta epsilon other"),  # shares the same 5-gram
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    kept = decontaminate(corpus, ev, n=5, max_hits=0)
    assert {r["doc_id"] for r in kept.collect()} == {2}
    # a loose threshold keeps single-hit docs
    loose = decontaminate(corpus, ev, n=5, max_hits=1)
    got = {r["doc_id"]: r["n_eval_hits"] for r in loose.collect()}
    assert got == {1: 1, 2: 0, 3: 1}


def test_contamination_check(spark):
    from weatherdatapipeline_spark.operators.dedup import contamination_check

    corpus = spark.createDataFrame(
        [(10, "one two three four five six seven")], "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [
            (0, "one two three four five six seven"),  # fully contained
            (1, "zz yy xx ww vv uu tt"),  # disjoint
            (2, "one two three four five nope nope"),  # partial overlap
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in contamination_check(corpus, ev, n=5).collect()}
    assert got[0]["contamination"] == 1.0
    assert got[1]["contamination"] == 0.0
    # doc 2: 3 distinct 5-grams, one ("one two three four five") in corpus
    assert got[2]["n_ngrams"] == 3 and got[2]["n_hits"] == 1


def test_simhash_identical_tokens_same_hash(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha  BETA gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    assert got[0] == got[1]  # case/whitespace-insensitive token multiset
    assert got[0] != got[2]
    assert all(v >= 0 for v in got.values())  # 63-bit: non-negative


def test_simhash_near_duplicates_blocking(docs):
    out = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
           simhash_near_duplicates(docs, max_hamming=16).collect()}
    assert out[(0, 1)] == 0  # identical token multisets
    assert (0, 2) in out


def test_simhash_blocking_full_recall_radius8(spark, sf_dir):
    """Recall contract: at radius 8 the blocked join must return EVERY pair
    with Hamming distance <= 8 — verified against brute-force all-pairs
    Hamming on a real 200-doc corpus (the round-1 4x16-bit blocking only
    guaranteed radius 3 and silently dropped pairs at 4-8)."""
    docs200 = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(200)
    )
    from pyspark.sql import functions as F

    sh = simhash(docs200).persist()
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    brute = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= 8)
        .collect()
    }
    blocked = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_duplicates(docs200, max_hamming=8).collect()
    }
    sh.unpersist()
    assert blocked == brute  # full recall AND no false positives


def test_simhash_multiblock_equals_single_block(spark, sf_dir):
    """Manku multi-block keying (C(m,k) combination tables) is a
    bucketing change only: both paths have full recall at the radius, so
    on a real 200-doc corpus the (pair, hamming) result sets must be
    identical at radius 6 — m=8, k=2 (28 two-block keys) vs the
    single-block default (7 blocks)."""
    docs200 = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(200)
    )
    single = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_duplicates(docs200, max_hamming=6).collect()
    }
    multi = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_duplicates(
            docs200, max_hamming=6, n_blocks=8, key_blocks=2
        ).collect()
    }
    assert single == multi
    assert single  # non-vacuous: the corpus has pairs at this radius


def test_simhash_multiblock_rejects_recall_breaking_k():
    # k > m - r would let a pair differ inside every enumerated combo
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_duplicates(None, max_hamming=6, n_blocks=8, key_blocks=3)


def test_simhash_rejects_insufficient_blocks():
    with pytest.raises(ValueError):
        simhash_near_duplicates(None, max_hamming=8, n_blocks=4)


def test_simhash_rejects_too_many_blocks():
    # > 63 blocks would mint zero-width (always-0) chunks: an all-pairs join
    with pytest.raises(ValueError, match="63"):
        simhash_near_duplicates(None, max_hamming=8, n_blocks=64)


def test_portable_and_xxhash64_minhash_families_agree_on_planted_dups(spark):
    """The portable md5 family exists for oracle-checkability, not new
    semantics: on planted near-duplicates both families must surface the
    same strong pairs with IDENTICAL exact-Jaccard values (verification
    is hash-free; only candidate generation differs)."""
    from weatherdatapipeline_spark.operators.dedup import (
        minhash_near_duplicates,
        minhash_near_duplicates_portable,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, base),
        (1, base + " extra"),          # near-dup of 0
        (2, "completely different words in this one about spark and ducks"),
        (3, base.replace("quick", "rapid")),  # near-dup of 0
        (4, "another unrelated document speaking of benchmarks and joins"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fast = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_near_duplicates(df, threshold=0.3).collect()
    }
    portable = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_near_duplicates_portable(df, threshold=0.3).collect()
    }
    assert (0, 1) in fast and (0, 3) in fast
    assert (0, 1) in portable and (0, 3) in portable
    for pair in set(fast) & set(portable):
        assert fast[pair] == portable[pair], f"jaccard differs on {pair}"


def test_bloom_contamination_no_false_negatives(spark):
    """Every doc the EXACT check flags must also be bloom-flagged
    (structural guarantee); clean docs are mostly clean modulo rare
    false positives, and the planted contaminated doc is hit."""
    from weatherdatapipeline_spark.operators.dedup import bloom_contamination

    ev_text = "the secret eval answer is forty two exactly"
    corpus_rows = [
        (1, "prefix words the secret eval answer is forty two exactly suffix"),
        (2, "completely unrelated text about weather and parquet files"),
        (3, "another clean document with plenty of ordinary words inside"),
    ]
    ev = spark.createDataFrame([(1000, ev_text)], "doc_id long, text string")
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    bloom = {r["doc_id"]: r for r in bloom_contamination(corpus, ev, n=5).collect()}

    def grams(t, n=5):
        w = t.lower().split()
        return {" ".join(w[i : i + n]) for i in range(max(len(w) - n + 1, 1))}

    ev_grams = grams(ev_text)
    for d, t in corpus_rows:
        exact_hits = len(grams(t) & ev_grams)
        if exact_hits > 0:
            assert bloom[d]["flagged"], f"false negative on doc {d}"
            assert bloom[d]["n_bloom_hits"] >= exact_hits
    assert bloom[1]["flagged"]


def test_bloom_position_table_is_bounded(spark):
    """The broadcast side must be <= 2^bits rows no matter the eval size."""
    from weatherdatapipeline_spark.operators.dedup import bloom_contamination

    ev = spark.createDataFrame(
        [(i, " ".join(f"tok{i}_{j}" for j in range(30))) for i in range(200)],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    out = bloom_contamination(corpus, ev, n=5, k=4, bits=9).collect()
    assert len(out) == 1  # small m -> heavy FP rate is fine; just runs


def test_containment_catches_embedded_doc(spark):
    """A short doc fully embedded in a much longer one: containment ~1.0
    while Jaccard stays low — the structural gap the overlap coefficient
    exists to close."""
    from weatherdatapipeline_spark.operators.dedup import (
        containment_near_duplicates,
        jaccard_near_duplicates,
    )

    short = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"pad{i} fill{i} more{i}" for i in range(20))
    long_doc = filler + " " + short + " trailing words here"
    df = spark.createDataFrame(
        [(1, short), (2, long_doc)], "doc_id long, text string"
    )
    cont = containment_near_duplicates(df, threshold=0.8).collect()
    assert len(cont) == 1 and cont[0]["containment"] == 1.0
    jac = jaccard_near_duplicates(df, threshold=0.3).collect()
    assert jac == []  # jaccard ~ |short| / |long| < 0.3 misses it
