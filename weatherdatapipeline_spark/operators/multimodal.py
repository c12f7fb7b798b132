"""Multimodal columns (SURVEY.md §2.11): image/audio/video as opaque
``binary`` columns with typed metadata, processed by Arrow-batched Pandas
iterators (``mapInPandas``).

What is REAL here (and tested): the mapInPandas plumbing (batch
iteration, output schema, column passthrough), partition sizing guidance,
the planted PNG/PCM corpora with their dHash and audio fingerprints, and
the PNG image decode itself: ``operators/png.py``
is a pure-stdlib PNG codec (zlib inflate + the five spec filters) and the
only image backend, so the real decode/convert/resize arm executes with
no imaging library installed. Non-PNG decode raises
``NotImplementedError`` (those codecs are not in the stdlib), and
undecodable blobs fall back to the deterministic byte-fold feature.

Scale notes
-----------
- Blobs ride in the row (parquet binary) only up to ~1 MB; beyond that the
  column should hold a reference (path/offset into an object store) and
  the UDF fetches — the schema supports both via ``uri``.
- ``mapInPandas`` keeps the transfer Arrow-batched; batch size is bounded
  by ``spark.sql.execution.arrow.maxRecordsPerBatch`` so executor memory
  is blob_size × batch, not partition size.
- Feature extraction is embarrassingly parallel: no shuffle anywhere in
  this module; repartition upstream only to balance blob-size skew.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .png import stdlib_image_module


FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("modality", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("feature", ArrayType(FloatType()), True),
    ]
)


def _png_feature(blob: bytes, dim: int) -> list[float] | None:
    """Real decode path: grayscale, resize to ``dim`` pixels, scale to
    [0, 1]. Returns None when the blob is not a decodable image (the
    caller falls back to the byte-fold stand-in)."""
    import io

    try:
        img = stdlib_image_module.open(io.BytesIO(blob)).convert("L").resize((dim, 1))
    except Exception:
        return None
    return [p / 255.0 for p in img.getdata()]


def _fake_feature(blob: bytes | None, dim: int) -> list[float]:
    """Deterministic stand-in for a codec+model feature extractor: fold the
    bytes into `dim` floats. Pure function of the blob — stable for tests."""
    if blob is None:
        return [0.0] * dim
    acc = [0] * dim
    for i, byte in enumerate(blob):
        acc[i % dim] = (acc[i % dim] * 31 + byte) % 100_003
    return [v / 100_003.0 for v in acc]


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """Arrow-batched feature extraction over binary blobs via mapInPandas.

    Image blobs decode with the stdlib PNG codec (grayscale → resize(dim)
    → [0,1] floats); any other modality or an undecodable blob falls back
    to the deterministic byte-fold stand-in, so the operator is total.
    """

    def feature(modality: str, blob: bytes | None) -> list[float]:
        if modality == "image" and blob is not None:
            real = _png_feature(blob, dim)
            if real is not None:
                return real
        return _fake_feature(blob, dim)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["blob"].map(lambda b: len(b) if b is not None else 0),
                    "feature": [
                        feature(m, b)
                        for m, b in zip(pdf["modality"], pdf["blob"])
                    ],
                }
            )

    return media.mapInPandas(fn, FEATURE_SCHEMA)


PNG_BLOB_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("blob", BinaryType(), False),
    ]
)

DHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("dhash", LongType(), False),
    ]
)

# planted-corpus geometry: 9-wide rows give 8 horizontal gradients per row,
# 8 rows -> 64 dHash comparisons; the signature keeps the low 63 so it
# fits a signed BIGINT and reuses the 63-bit Manku block join unchanged
_DHASH_W, _DHASH_H = 9, 8


def _planted_pixels(doc_id: int, group_mod: int) -> bytes:
    """Deterministic grayscale raster for a doc: base pixels are md5-derived
    from the doc's GROUP id (doc_id % group_mod), so same-group docs share
    the image except for ONE perturbed pixel at position doc_id % (w*h).
    One pixel touches at most 2 horizontal gradients, so same-group dHash
    pairs sit within Hamming 4 by construction. Pure md5 arithmetic —
    bit-replicable in SQL, which is what makes the oracle strict."""
    import hashlib

    gid = doc_id % group_mod
    n = _DHASH_W * _DHASH_H
    px = bytearray(n)
    for r in range(_DHASH_H):
        for c in range(_DHASH_W):
            h = hashlib.md5(f"m{gid}:{r}:{c}".encode()).hexdigest()
            px[r * _DHASH_W + c] = int(h[:2], 16)
    p = doc_id % n
    px[p] = (px[p] + doc_id) % 256
    return bytes(px)


def planted_png_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    group_mod: int = 40,
    max_doc_id: int = 1024,
) -> DataFrame:
    """Encode one REAL grayscale PNG per document (stdlib codec:
    ``operators/png.py::encode_png`` — zlib deflate, CRC chunks) whose
    pixels are a deterministic md5 function of the doc id, with planted
    near-duplicate groups (see :func:`_planted_pixels`). Participation is
    capped at ``doc_id < max_doc_id`` so the planted pair mass stays
    bounded at any scale factor — the fixture is for exercising the
    decode+hash+block-join machinery, whose scale story is carried by the
    (unbounded) SimHash family sharing the same join. Map-only
    mapInPandas; no shuffle."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .png import encode_png  # noqa: PLC0415 - executor-side import

        for pdf in batches:
            ids = [int(i) for i in pdf[id_col]]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "blob": [
                        encode_png(
                            _DHASH_W,
                            _DHASH_H,
                            "L",
                            _planted_pixels(i, group_mod),
                        )
                        for i in ids
                    ],
                }
            )

    return (
        docs.select(F.col(id_col).cast("long").alias(id_col))
        .filter(F.col(id_col) < max_doc_id)
        .mapInPandas(fn, PNG_BLOB_SCHEMA)
    )


def image_dhash(
    media: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """63-bit dHash (difference hash) perceptual signature per image row:
    decode the blob with the stdlib PNG decoder (zlib inflate + spec
    filters), convert to
    grayscale, resize to the canonical 9x8 grid, and set bit ``r*8+c``
    when ``pixel[r][c] > pixel[r][c+1]`` (horizontal gradient sign — the
    standard dHash of Krawetz's "Kind of Like That"). Gradient bits are
    LOCAL (one pixel touches at most 2 bits), unlike aHash whose global
    mean couples every bit — that locality is what makes the planted
    oracle's Hamming bound tight. Bit 63 is dropped so the signature fits
    a signed BIGINT and feeds :func:`~..dedup.hamming_block_pairs`
    unchanged. Undecodable blobs are skipped (dropped rows), keeping the
    operator total over corrupt corpus bytes. Map-only; Arrow-batched."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        for pdf in batches:
            ids: list[int] = []
            sigs: list[int] = []
            for mid, blob in zip(pdf[id_col], pdf[blob_col]):
                if blob is None:
                    continue
                try:
                    img = (
                        stdlib_image_module.open(io.BytesIO(bytes(blob)))
                        .convert("L")
                        .resize((_DHASH_W, _DHASH_H))
                    )
                except Exception:
                    continue
                px = list(img.getdata())
                sig = 0
                for r in range(_DHASH_H):
                    for c in range(_DHASH_W - 1):
                        k = r * (_DHASH_W - 1) + c
                        if k >= 63:
                            break
                        if px[r * _DHASH_W + c] > px[r * _DHASH_W + c + 1]:
                            sig |= 1 << k
                ids.append(int(mid))
                sigs.append(sig)
            yield pd.DataFrame({"doc_id": ids, "dhash": sigs})

    return media.select(id_col, blob_col).mapInPandas(fn, DHASH_SCHEMA)


PCM_BLOB_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("blob", BinaryType(), False),
    ]
)

AUDIO_FP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("afp", LongType(), False),
    ]
)

# fingerprint geometry: 64 frames x 125 samples = 8000-sample clips; 63
# consecutive-frame energy deltas -> a 63-bit signature (signed-BIGINT
# safe, reuses the Manku block join unchanged)
_AFP_FRAMES, _AFP_SPF = 64, 125


def _planted_samples(doc_id: int, group_mod: int) -> list[int]:
    """Deterministic int16 waveform for a clip: a linear-congruential
    pattern parameterized by the doc's GROUP id, plus ONE amplitude spike
    at frame doc_id % 64 — so same-group clips differ in a single frame's
    energy, flipping at most 2 energy-delta sign bits. Pure integer
    arithmetic — bit-replicable in SQL, which is what makes the oracle
    strict (the audio twin of the PNG corpus's md5 pixels)."""
    import numpy as np

    gid = doc_id % group_mod
    a, b = 17 + gid, 97 * gid + 13
    n = _AFP_FRAMES * _AFP_SPF
    spike_at = (doc_id % _AFP_FRAMES) * _AFP_SPF
    i = np.arange(n, dtype=np.int64)
    v = (a * i + b) % 4096 - 2048
    v[spike_at] += doc_id % 1024
    return v.tolist()


def planted_pcm_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    group_mod: int = 40,
    max_doc_id: int = 1024,
) -> DataFrame:
    """Pack one REAL PCM16-LE audio blob per document (stdlib ``struct``
    byte packing) from the deterministic planted waveform. Map-only
    mapInPandas; participation capped at ``doc_id < max_doc_id`` so the
    planted pair mass stays bounded at any scale factor."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np  # noqa: PLC0415 - executor-side import

        for pdf in batches:
            ids = [int(i) for i in pdf[id_col]]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "blob": [
                        np.asarray(
                            _planted_samples(i, group_mod), dtype="<i2"
                        ).tobytes()
                        for i in ids
                    ],
                }
            )

    return (
        docs.select(F.col(id_col).cast("long").alias(id_col))
        .filter(F.col(id_col) < max_doc_id)
        .mapInPandas(fn, PCM_BLOB_SCHEMA)
    )


def audio_fingerprint(
    media: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """63-bit acoustic fingerprint per PCM16 clip: decode the raw bytes
    (numpy ``<i2`` view — REAL byte-level decode), frame into 64 windows of 125 samples,
    compute INTEGER frame energies sum(x^2), and set bit k when
    energy[k+1] > energy[k] — the energy-delta sign pattern at the heart
    of Haitsma-Kalker/Chromaprint-style audio hashing, reduced to one
    band. Integer energies make the signature exact and SQL-replicable.
    Blobs shorter than a full clip are skipped (dropped rows — total over
    corrupt corpus bytes). Feeds ``dedup.hamming_block_pairs`` unchanged;
    map-only, Arrow-batched."""
    import numpy as np

    n = _AFP_FRAMES * _AFP_SPF

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            sigs: list[int] = []
            for mid, blob in zip(pdf[id_col], pdf[blob_col]):
                if blob is None or len(blob) < 2 * n:
                    continue
                x = np.frombuffer(bytes(blob)[: 2 * n], dtype="<i2").astype(np.int64)
                e = (x * x).reshape(_AFP_FRAMES, _AFP_SPF).sum(axis=1)
                sig = 0
                for k in range(_AFP_FRAMES - 1):
                    if e[k + 1] > e[k]:
                        sig |= 1 << k
                ids.append(int(mid))
                sigs.append(sig)
            yield pd.DataFrame({"doc_id": ids, "afp": sigs})

    return media.select(id_col, blob_col).mapInPandas(fn, AUDIO_FP_SCHEMA)
