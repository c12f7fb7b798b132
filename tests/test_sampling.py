"""Sampling/split determinism and connected-components correctness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from weatherdatapipeline_spark.operators.dedup import (
    connected_components,
    dedup_keep_canonical,
)
from weatherdatapipeline_spark.operators.sampling import (
    mixture_weighted_sample,
    sample_per_group,
    split_assign,
    temperature_mixture_weights,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _assignment(df):
    return {r["doc_id"]: r["split"] for r in df.select("doc_id", "split").collect()}


def test_split_partition_independent(spark, docs):
    """The property randomSplit lacks: physical layout must not move rows."""
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    base = _assignment(split_assign(docs, "doc_id", fr))
    shuffled = _assignment(split_assign(docs.repartition(7, "source"), "doc_id", fr))
    assert base == shuffled
    assert set(base.values()) == {"train", "val", "test"}


def test_split_fractions_validated(docs):
    with pytest.raises(ValueError):
        split_assign(docs, "doc_id", {"a": 0.5, "b": 0.2})


def test_train_test_disjoint_and_complete(docs):
    tagged = split_assign(docs, "doc_id", {"train": 0.8, "test": 0.2})
    train = tagged.filter(F.col("split") == "train")
    test = tagged.filter(F.col("split") == "test")
    n, nt, ns = docs.count(), train.count(), test.count()
    assert nt + ns == n
    assert train.join(test, "doc_id").count() == 0
    # 32-bit md5 bucket is uniform: 20% +/- a loose binomial bound
    assert 0.1 < ns / n < 0.3


def test_mixture_sample_keeps_full_stratum(docs):
    kept = mixture_weighted_sample(
        docs, "doc_id", "source", {"src0": 1.0, "src1": 0.0}
    )
    by_src = {r["source"]: r["n"] for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert by_src.get("src0") == docs.filter("source = 'src0'").count()
    assert "src1" not in by_src  # keep=0 drops all
    assert len(by_src) == 1  # default_fraction=0 drops the rest


def test_sample_per_group_exact_k_and_stable(spark, docs):
    k = 3
    a = sample_per_group(docs, "source", "doc_id", k)
    sizes = {
        r["source"]: r["n"]
        for r in a.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    totals = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert sizes == {s: min(k, n) for s, n in totals.items()}
    # stable under physical relayout (the property a seeded RNG lacks)
    b = sample_per_group(docs.repartition(7, "lang"), "source", "doc_id", k)
    assert sorted(r["doc_id"] for r in a.collect()) == sorted(
        r["doc_id"] for r in b.collect()
    )


def test_temperature_mixture_weights_math(spark):
    rows = [(i, "head") for i in range(90)] + [(90 + i, "tail") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id LONG, src STRING")
    got = {
        r["src"]: r for r in temperature_mixture_weights(df, "src", alpha=0.5).collect()
    }
    z = 0.9**0.5 + 0.1**0.5
    assert got["head"]["n_docs"] == 90 and got["tail"]["n_docs"] == 10
    assert abs(got["head"]["p"] - 0.9) < 1e-12
    assert abs(got["head"]["weight"] - 0.9**0.5 / z) < 1e-12
    assert abs(got["tail"]["weight"] - 0.1**0.5 / z) < 1e-12
    # weights normalize, and alpha<1 up-weights the tail vs its raw share
    assert abs(got["head"]["weight"] + got["tail"]["weight"] - 1.0) < 1e-12
    assert got["tail"]["weight"] > got["tail"]["p"]


def test_temperature_alpha_extremes(spark):
    rows = [(i, "a") for i in range(75)] + [(100 + i, "b") for i in range(25)]
    df = spark.createDataFrame(rows, "doc_id LONG, src STRING")
    prop = {r["src"]: r["weight"] for r in temperature_mixture_weights(df, "src", 1.0).collect()}
    unif = {r["src"]: r["weight"] for r in temperature_mixture_weights(df, "src", 0.0).collect()}
    assert abs(prop["a"] - 0.75) < 1e-12 and abs(prop["b"] - 0.25) < 1e-12
    assert abs(unif["a"] - 0.5) < 1e-12 and abs(unif["b"] - 0.5) < 1e-12


def _cc(spark, edges):
    pairs = spark.createDataFrame(edges, "doc_a BIGINT, doc_b BIGINT")
    return {
        r["node"]: r["cluster_id"] for r in connected_components(pairs).collect()
    }


def test_cc_two_components(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cc_chain_converges(spark):
    # a 6-node path needs several propagation rounds (diameter > 1)
    got = _cc(spark, [(5, 6), (4, 5), (3, 4), (2, 3), (1, 2)])
    assert got == {n: 1 for n in range(1, 7)}


def _cc_star(spark, edges):
    from weatherdatapipeline_spark.operators.dedup import connected_components_star

    pairs = spark.createDataFrame(edges, "doc_a BIGINT, doc_b BIGINT")
    return {
        r["node"]: r["cluster_id"]
        for r in connected_components_star(pairs).collect()
    }


def test_cc_star_matches_min_label(spark):
    """Star contraction and min-label must agree on a multi-component
    graph with shared-edge redundancy and reversed pairs."""
    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (12, 11), (20, 21), (21, 20), (30, 31)]
    assert _cc_star(spark, edges) == _cc(spark, edges)


def test_cc_star_long_chain(spark):
    """The case min-label propagation cannot handle: a 400-node path has
    diameter 399, far beyond min-label's default 25 rounds, while star
    contraction needs O(log^2 n). Every node must land in cluster 0."""
    edges = [(i, i + 1) for i in range(400)]
    got = _cc_star(spark, edges)
    assert got == {n: 0 for n in range(401)}


def _chains_and_cycles(rng, n_components):
    """Random graph: disjoint chains and cycles of 2-7 nodes under a
    random relabeling (so component minima sit anywhere along a chain),
    edges emitted in random direction and order; plus the union-find
    labels (node -> component min) as ground truth."""
    ids = rng.sample(range(10_000), n_components * 7)
    edges, truth, pos = [], {}, 0
    for _ in range(n_components):
        size = rng.randint(2, 7)
        nodes = ids[pos : pos + size]
        pos += size
        links = list(zip(nodes, nodes[1:]))
        if size > 2 and rng.random() < 0.5:
            links.append((nodes[-1], nodes[0]))  # close the cycle
        edges += [(a, b) if rng.random() < 0.5 else (b, a) for a, b in links]
        truth.update({n: min(nodes) for n in nodes})
    rng.shuffle(edges)
    return edges, truth


def test_cc_star_two_round_window_matches_min_label_random(spark):
    """Property: star CC checks convergence only every second round; on
    random chains-plus-cycles graphs its labels still equal min-label
    propagation and union-find (a premature stop would leave some node
    on a non-minimal label)."""
    import random

    edges, truth = _chains_and_cycles(random.Random(2024), 40)
    star = _cc_star(spark, edges)
    assert star == _cc(spark, edges)
    assert star == truth


def test_dedup_keep_canonical_planted(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(1, 8)], "doc_id BIGINT, text STRING"
    )
    pairs = spark.createDataFrame(
        [(2, 5), (5, 7)], "doc_a BIGINT, doc_b BIGINT"
    )  # {2,5,7} one cluster -> keep 2; 1,3,4,6 untouched
    kept = sorted(r["doc_id"] for r in dedup_keep_canonical(docs, pairs).collect())
    assert kept == [1, 2, 3, 4, 6]


def test_token_budget_sample_semantics(spark):
    """Budget admission: docs enter in md5(id) order while prior tokens
    are under budget; the boundary-crossing doc is kept; a group always
    yields at least one doc; totals never exceed budget + last doc."""
    from weatherdatapipeline_spark.operators.sampling import token_budget_sample

    rows = [(i, "w " * 40, "a") for i in range(10)] + [(100, "x " * 999, "b")]
    df = spark.createDataFrame(
        [(i, t.strip(), s) for i, t, s in rows],
        "doc_id long, text string, source string",
    )
    out = token_budget_sample(df, budget=100, group_col="source").collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    # group a: 40-token docs; admitted while cum_before < 100 -> 3 docs
    assert len(by_src["a"]) == 3
    assert sorted(r["cum_tokens_before"] for r in by_src["a"]) == [0, 40, 80]
    # group b: single 999-token doc crosses the budget but is kept
    assert len(by_src["b"]) == 1 and by_src["b"][0]["cum_tokens_before"] == 0


def test_dsir_weights_prefer_target_like_docs(spark):
    """DSIR log-ratio semantics on a planted corpus: a raw doc written in
    the target domain's vocabulary must outweigh one written in the
    off-domain vocabulary, and n_features must count unigrams + bigrams
    (2n - 1)."""
    from weatherdatapipeline_spark.operators.sampling import dsir_logratio_weights
    from pyspark.sql import functions as F

    target_text = "alpha beta gamma alpha beta"
    offdom_text = "zeta eta theta zeta eta"
    rows = (
        [(i, target_text, "en") for i in range(10)]
        + [(100 + i, offdom_text, "zz") for i in range(10)]
        # the two raw docs being scored (not in the target set):
        + [(500, target_text, "xx"), (501, offdom_text, "xx")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    w = {
        r["doc_id"]: r
        for r in dsir_logratio_weights(df, is_target=F.col("lang") == "en")
        .filter(F.col("doc_id") >= 500)
        .collect()
    }
    assert w[500]["weight"] > w[501]["weight"]
    assert w[500]["n_features"] == 2 * 5 - 1  # 5 unigrams + 4 bigrams


def test_dsir_single_token_doc(spark):
    """A one-token doc has exactly one feature (no bigrams) and must not
    error out of the zip_with slice arithmetic."""
    from weatherdatapipeline_spark.operators.sampling import dsir_logratio_weights
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "solo", "en"), (2, "a b", "zz")], "doc_id long, text string, lang string"
    )
    got = {r["doc_id"]: r["n_features"] for r in
           dsir_logratio_weights(df, is_target=F.col("lang") == "en").collect()}
    assert got == {1: 1, 2: 3}


def test_aqp_estimate_error_shrinks_with_sample_rate(spark):
    """The hash-sample estimator is unbiased and deterministic: the same
    p always selects the same rows, and on uniform data a 50% sample's
    sum estimate lands within a few percent of exact."""
    from weatherdatapipeline_spark.operators.sampling import hash_bucket
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, float(1 + i % 7)) for i in range(4000)], "event_id long, value double"
    )
    exact = df.agg(F.sum("value")).collect()[0][0]
    for p, tol in ((0.5, 0.05), (0.1, 0.15)):
        sampled = df.filter(hash_bucket(F.col("event_id"), 1000) < int(p * 1000))
        est = sampled.agg(F.sum("value") / p).collect()[0][0]
        assert abs(est - exact) / exact < tol, (p, est, exact)
        est2 = sampled.agg(F.sum("value") / p).collect()[0][0]
        assert est == est2  # deterministic, not rand()-sampled


def test_es_weighted_sampling_biases_toward_heavy_items(spark):
    """Efraimidis-Spirakis keys: over many disjoint id universes, items
    with 10x the weight must win the top-1 slot far more often — and
    the selection must be deterministic (hash-derived, no RNG)."""
    from pyspark.sql import functions as F

    from weatherdatapipeline_spark.operators.dedup import portable_hash60

    rows = []
    for trial in range(300):
        rows.append((trial * 10 + 1, trial, 1000.0))  # heavy
        rows.append((trial * 10 + 2, trial, 100.0))   # light
    df = spark.createDataFrame(rows, "doc_id long, trial int, weight double")
    u = (portable_hash60(F.col("doc_id")) + 1).cast("double") / float(2**60)
    keyed = df.withColumn("k", F.log(u) / F.col("weight"))
    from pyspark.sql import Window

    w = Window.partitionBy("trial").orderBy(F.desc("k"), "doc_id")
    winners = (
        keyed.withColumn("r", F.row_number().over(w))
        .filter("r = 1")
        .withColumn("heavy", (F.col("weight") == 1000.0).cast("int"))
        .agg(F.sum("heavy")).collect()[0][0]
    )
    # P(heavy wins) = 1000/1100 = 0.909; 300 trials, expect ~273, allow 4 sigma
    assert 240 <= winners <= 300, winners
