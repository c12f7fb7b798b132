"""Property-based tests: operators vs independent brute-force Python
implementations on hypothesis-generated inputs. Few examples (Spark
round-trip per example), wide input space."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from weatherdatapipeline_spark.operators.dedup import jaccard_near_duplicates
from weatherdatapipeline_spark.operators.embeddings import quantize_int8
from weatherdatapipeline_spark.operators.relational import latest_per_key, top_k

SETTINGS = settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)

WORDS = ["spark", "row", "table", "scan", "join", "agg", "batch", "fast"]


def brute_jaccard(docs, n=3, threshold=0.2):
    def shingles(text):
        toks = text.lower().split()
        if len(toks) <= n:
            return {" ".join(toks[:n])}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    out = {}
    sh = {i: shingles(t) for i, t in docs}
    ids = sorted(sh)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = sh[ids[i]], sh[ids[j]]
            jac = len(a & b) / len(a | b)
            if round(jac, 6) >= threshold:
                out[(ids[i], ids[j])] = round(jac, 6)
    return out


@SETTINGS
@given(
    docs=st.lists(
        st.lists(st.sampled_from(WORDS), min_size=1, max_size=12).map(" ".join),
        min_size=2,
        max_size=8,
    )
)
def test_jaccard_matches_bruteforce(spark, docs):
    rows = list(enumerate(docs))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_near_duplicates(df, threshold=0.2).collect()
    }
    want = brute_jaccard(rows)
    assert got == want


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 50), st.integers(0, 999)),
        min_size=1,
        max_size=30,
    )
)
def test_latest_per_key_matches_python_max(spark, rows):
    df = spark.createDataFrame(rows, "k string, t long, v long")
    got = {r["k"]: (r["t"], r["v"]) for r in latest_per_key(df, "k", "t").collect()}
    want = {}
    for k, t, v in rows:
        # operator tie-breaks equal timestamps by greatest remaining struct
        if k not in want or (t, v) > want[k]:
            want[k] = (t, v)
    assert got == want


@SETTINGS
@given(
    vals=st.lists(st.integers(-1000, 1000), min_size=1, max_size=50),
    k=st.integers(1, 10),
)
def test_top_k_matches_sorted(spark, vals, k):
    rows = [(v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "v long, id long")
    got = [(r["v"], r["id"]) for r in top_k(df, [F.desc("v"), F.col("id")], k).collect()]
    want = sorted(rows, key=lambda r: (-r[0], r[1]))[:k]
    assert got == want


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["x", "y"]), st.floats(-100, 100, width=32)),
        min_size=1,
        max_size=40,
    )
)
def test_groupcount_matches_counter(spark, rows):
    df = spark.createDataFrame([(k, float(v)) for k, v in rows], "k string, v double")
    got = {r["k"]: r["cnt"] for r in df.groupBy("k").agg(F.count("v").alias("cnt")).collect()}
    want = Counter(k for k, _ in rows)
    assert got == dict(want)


@SETTINGS
@given(
    vecs=st.lists(
        st.lists(
            st.floats(-1e6, 1e6, width=32, allow_nan=False, allow_infinity=False),
            min_size=1,
            max_size=24,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_quantize_roundtrip_error_bound_property(spark, vecs):
    """For ANY finite float32 vectors: qvec/scale equal a numpy half-up
    reference, components stay in [-127, 127], and dequantization error
    is bounded by scale/2 + eps."""
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    out = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    import numpy as np

    for vid, vec in rows:
        r = out[vid]
        assert all(-127 <= q <= 127 for q in r["qvec"])
        v = np.asarray(vec, dtype=np.float32).astype(np.float64)
        scale = np.abs(v).max() / 127
        x = np.abs(v / max(scale, 1e-30))
        # SQL ROUND is half-up (away from zero); x - floor(x) is exact
        q = np.sign(v) * (np.floor(x) + (x - np.floor(x) >= 0.5))
        assert r["scale"] == scale
        assert r["qvec"] == q.astype(int).tolist()
        err = np.abs(q * scale - v)
        assert err.max() <= scale / 2 + 1e-9 * max(1.0, scale)


# --- r9: PNG codec properties ---------------------------------------------

PNG_SETTINGS = settings(max_examples=40, deadline=None)  # pure Python, cheap


@PNG_SETTINGS
@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
    mode=st.sampled_from(["L", "LA", "RGB", "RGBA"]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_png_roundtrip_property(w, h, mode, seed):
    """encode_png → decode_png is the identity for ANY raster geometry,
    mode, and pixel content (stdlib codec, no Spark)."""
    from weatherdatapipeline_spark.operators.png import (
        _MODE_CHANNELS,
        decode_png,
        encode_png,
    )

    n = w * h * _MODE_CHANNELS[mode]
    data = bytes((seed + 97 * i) % 256 for i in range(n))
    img = decode_png(encode_png(w, h, mode, data))
    assert (img.width, img.height, img.mode) == (w, h, mode)
    assert img.tobytes() == data


@PNG_SETTINGS
@given(
    w=st.integers(min_value=1, max_value=10),
    h=st.integers(min_value=2, max_value=8),
    filters=st.lists(st.integers(min_value=0, max_value=4), min_size=2, max_size=8),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_png_unfilter_property(w, h, filters, seed):
    """The decoder inverts ANY per-row mix of the five spec filters."""
    from tests.test_png_codec import _png_with_filters
    from weatherdatapipeline_spark.operators.png import decode_png

    filters = (filters * h)[:h]
    data = bytes((seed + 31 * i) % 256 for i in range(w * h * 3))
    assert decode_png(_png_with_filters(w, h, "RGB", data, filters)).tobytes() == data


@SETTINGS
@given(
    sigs=st.lists(
        st.integers(min_value=0, max_value=(1 << 63) - 1),
        min_size=2,
        max_size=24,
    ),
    max_hamming=st.integers(min_value=0, max_value=8),
)
def test_hamming_block_pairs_full_recall(spark, sigs, max_hamming):
    """The Manku pigeonhole block join must equal brute force for ANY
    signature multiset and radius — the property every family built on
    it (SimHash, image dHash, audio fingerprints) inherits."""
    from weatherdatapipeline_spark.operators.dedup import hamming_block_pairs

    rows = list(enumerate(sigs))
    df = spark.createDataFrame(rows, "doc_id LONG, sig LONG")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in hamming_block_pairs(
            df, id_col="doc_id", sig_col="sig", max_hamming=max_hamming
        ).collect()
    }
    brute = {
        (a, b, bin(sa ^ sb).count("1"))
        for a, sa in rows
        for b, sb in rows
        if a < b and bin(sa ^ sb).count("1") <= max_hamming
    }
    assert got == brute


@SETTINGS
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),
            st.integers(min_value=0, max_value=500),
        ),
        min_size=2,
        max_size=30,
    ),
    radius=st.integers(min_value=1, max_value=200),
)
def test_radius_join_full_recall(spark, pts, radius):
    from weatherdatapipeline_spark.operators.spatial import radius_join

    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "pid LONG, x LONG, y LONG")
    got = {
        (r.pid_a, r.pid_b, r.dist2) for r in radius_join(df, radius).collect()
    }
    brute = {
        (a, b, (xa - xb) ** 2 + (ya - yb) ** 2)
        for a, xa, ya in rows
        for b, xb, yb in rows
        if a < b and (xa - xb) ** 2 + (ya - yb) ** 2 <= radius * radius
    }
    assert got == brute


@SETTINGS
@given(
    texts=st.lists(
        st.text(alphabet="abc ", min_size=0, max_size=8),
        min_size=2,
        max_size=12,
    ),
    d=st.integers(min_value=0, max_value=2),
)
def test_passjoin_full_recall_random_strings(spark, texts, d):
    """PassJoin vs brute-force Levenshtein on adversarially short random
    strings — exercises zero-width-segment guards, the len<=d residual
    arm, and the dedupe-first expansion under heavy duplication."""
    from weatherdatapipeline_spark.operators.dedup import passjoin_near_duplicates

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        (r.doc_a, r.doc_b, r.dist)
        for r in passjoin_near_duplicates(df, max_dist=d).collect()
    }
    brute = {
        (a, b, lev(ta, tb))
        for a, ta in rows
        for b, tb in rows
        if a < b and lev(ta, tb) <= d
    }
    assert got == brute
