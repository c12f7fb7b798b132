"""Perceptual-hash image dedup (VERDICT r9 item 7): the planted PNG corpus
round-trips through the REAL stdlib codec (encode -> decode), the dHash
signature matches a pure-Python reference computed straight from the pixel
function (no PNG involved — proving roundtrip fidelity), and the Manku
block join finds exactly the brute-force pair set at the radius."""

from __future__ import annotations

import hashlib

import pytest

from weatherdatapipeline_spark.operators import dedup as D
from weatherdatapipeline_spark.operators import multimodal as M

GROUP_MOD = 5
N_DOCS = 30  # 5 groups x 6 docs


def ref_pixels(doc_id: int) -> list[int]:
    px = []
    for r in range(8):
        for c in range(9):
            h = hashlib.md5(f"m{doc_id % GROUP_MOD}:{r}:{c}".encode()).hexdigest()
            px.append(int(h[:2], 16))
    p = doc_id % 72
    px[p] = (px[p] + doc_id) % 256
    return px


def ref_dhash(px: list[int]) -> int:
    sig = 0
    for r in range(8):
        for c in range(8):
            k = r * 8 + c
            if k >= 63:
                break
            if px[r * 9 + c] > px[r * 9 + c + 1]:
                sig |= 1 << k
    return sig


@pytest.fixture(scope="module")
def planted(spark):
    docs = spark.range(N_DOCS).selectExpr("id AS doc_id")
    blobs = M.planted_png_corpus(docs, group_mod=GROUP_MOD, max_doc_id=N_DOCS)
    return blobs


def test_corpus_blobs_are_real_pngs(planted):
    from weatherdatapipeline_spark.operators.png import decode_png

    rows = planted.collect()
    assert len(rows) == N_DOCS
    for row in rows:
        img = decode_png(bytes(row.blob))
        assert img.size == (9, 8)
        assert img.mode == "L"
        assert list(img.getdata()) == ref_pixels(row.doc_id)


def test_dhash_matches_pure_python_reference(spark, planted):
    got = {r.doc_id: r.dhash for r in M.image_dhash(planted).collect()}
    assert len(got) == N_DOCS
    for doc_id in range(N_DOCS):
        assert got[doc_id] == ref_dhash(ref_pixels(doc_id)), doc_id


def test_same_group_pairs_within_radius_and_full_recall(spark, planted):
    sigs = {d: ref_dhash(ref_pixels(d)) for d in range(N_DOCS)}
    brute = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a in range(N_DOCS)
        for b in range(a + 1, N_DOCS)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 4
    }
    # every same-group pair differs in <=2 pixels -> <=4 gradient bits
    for a in range(N_DOCS):
        for b in range(a + 1, N_DOCS):
            if a % GROUP_MOD == b % GROUP_MOD:
                assert bin(sigs[a] ^ sigs[b]).count("1") <= 4, (a, b)
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in D.hamming_block_pairs(
            M.image_dhash(planted), id_col="doc_id", sig_col="dhash", max_hamming=4
        ).collect()
    }
    assert got == brute


def test_undecodable_blob_rows_are_dropped(spark):
    rows = [(0, b"not a png"), (1, None)]
    df = spark.createDataFrame(rows, "doc_id LONG, blob BINARY")
    assert M.image_dhash(df).count() == 0


def test_audio_fingerprint_matches_pure_python(spark):
    from weatherdatapipeline_spark.operators.multimodal import (
        _AFP_FRAMES,
        _AFP_SPF,
        _planted_samples,
        audio_fingerprint,
        planted_pcm_corpus,
    )

    docs = spark.range(N_DOCS).selectExpr("id AS doc_id")
    blobs = planted_pcm_corpus(docs, group_mod=GROUP_MOD, max_doc_id=N_DOCS)
    got = {r.doc_id: r.afp for r in audio_fingerprint(blobs).collect()}
    assert len(got) == N_DOCS
    for d in range(N_DOCS):
        xs = _planted_samples(d, GROUP_MOD)
        es = [
            sum(v * v for v in xs[k * _AFP_SPF : (k + 1) * _AFP_SPF])
            for k in range(_AFP_FRAMES)
        ]
        sig = 0
        for k in range(63):
            if es[k + 1] > es[k]:
                sig |= 1 << k
        assert got[d] == sig, d


def test_audio_fingerprint_same_group_within_radius(spark):
    from weatherdatapipeline_spark.operators.multimodal import (
        audio_fingerprint,
        planted_pcm_corpus,
    )

    docs = spark.range(N_DOCS).selectExpr("id AS doc_id")
    blobs = planted_pcm_corpus(docs, group_mod=GROUP_MOD, max_doc_id=N_DOCS)
    sigs = {r.doc_id: r.afp for r in audio_fingerprint(blobs).collect()}
    brute = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a in range(N_DOCS)
        for b in range(a + 1, N_DOCS)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 4
    }
    for a in range(N_DOCS):
        for b in range(a + 1, N_DOCS):
            if a % GROUP_MOD == b % GROUP_MOD:
                assert bin(sigs[a] ^ sigs[b]).count("1") <= 4, (a, b)
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in D.hamming_block_pairs(
            audio_fingerprint(blobs), id_col="doc_id", sig_col="afp", max_hamming=4
        ).collect()
    }
    assert got == brute


def test_audio_fingerprint_short_blob_dropped(spark):
    from weatherdatapipeline_spark.operators.multimodal import audio_fingerprint

    df = spark.createDataFrame(
        [(0, b"\x00\x01" * 10), (1, None)], "doc_id LONG, blob BINARY"
    )
    assert audio_fingerprint(df).count() == 0
