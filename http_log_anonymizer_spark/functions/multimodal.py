"""Multimodal column handling: opaque ``binary`` payloads + typed
metadata, decoded via Arrow-batched ``mapInPandas``.

The container has no image/audio libraries, so the actual pixel/sample
decode is STUBBED (import-gated; see ``_real_decode``). What IS real and
tested is everything Spark-side: the binary column plumbing, the
mapInPandas batch iteration, the output schema contract, and the
deterministic fallback decoder — which is pure arithmetic on the bytes
so the DuckDB oracle can verify the full pipeline end-to-end.

At 100 TB: binary payloads ride in parquet as BYTE_ARRAY; mapInPandas
streams Arrow batches so one task never holds more than
``spark.sql.execution.arrow.maxRecordsPerBatch`` rows of media.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DECODED_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("media_format", StringType()),
    ]
)

_FORMATS = ["jpeg", "png", "webp"]


def _real_decode(payload: bytes) -> tuple[int, int, str]:  # pragma: no cover
    """Real image decode — requires PIL, which this container lacks."""
    try:
        import io

        from PIL import Image  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "image decode requires Pillow; container provides no media libs — "
            "using the deterministic fake decoder instead"
        ) from exc
    img = Image.open(io.BytesIO(payload))
    return img.width, img.height, (img.format or "unknown").lower()


def decode_media_meta(df: DataFrame) -> DataFrame:
    """mapInPandas decode of a (doc_id, source, data binary) DataFrame
    into typed media metadata. Batch shape: pandas DataFrames of Arrow
    batch size; constant memory per task regardless of corpus size."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf["data"].map(len)
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "source": pdf["source"],
                    "n_bytes": n.astype("int64"),
                    "width": (n % 640 + 1).astype("int32"),
                    "height": ((n * 7) % 480 + 1).astype("int32"),
                    "media_format": (n % 3).map(dict(enumerate(_FORMATS))),
                }
            )
            yield out

    return df.mapInPandas(decode, DECODED_META_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_bytes", LongType()),
        StructField("frame_checksum", LongType()),
    ]
)

FRAME_SIZE = 64  # bytes per fake "frame"
SAMPLE_EVERY = 4  # keep every 4th frame


def sample_frames(df: DataFrame) -> DataFrame:
    """Frame-sampling for opaque video payloads: split the binary into
    fixed-size frames, keep every SAMPLE_EVERY-th, emit per-frame
    metadata (one input row -> many output rows via mapInPandas). The
    real codec decode is stubbed (no media libs — frames are byte
    slices, checksum is a byte sum); the Spark plumbing (binary
    chunking, fan-out row multiplication, Arrow batching) is real.
    """

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [],
                "frame_idx": [],
                "frame_bytes": [],
                "frame_checksum": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["data"]):
                data = bytes(payload)
                n_frames = (len(data) + FRAME_SIZE - 1) // FRAME_SIZE
                for idx in range(0, n_frames, SAMPLE_EVERY):
                    chunk = data[idx * FRAME_SIZE : (idx + 1) * FRAME_SIZE]
                    out["doc_id"].append(int(doc_id))
                    out["frame_idx"].append(idx)
                    out["frame_bytes"].append(len(chunk))
                    out["frame_checksum"].append(sum(chunk))
            yield pd.DataFrame(out)

    return df.mapInPandas(frames, FRAME_SCHEMA)


RESIZE_BOX = 64  # fit within RESIZE_BOX x RESIZE_BOX, aspect preserved
N_FEATURE_BINS = 8  # byte-value histogram bins (256 / 32)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("new_w", IntegerType()),
        StructField("new_h", IntegerType()),
        StructField("features", ArrayType(LongType())),
    ]
)


def extract_resize_features(df: DataFrame) -> DataFrame:
    """Resize + feature-extraction plumbing for binary media: decode the
    stub dimensions, downscale to fit RESIZE_BOX (integer math, aspect
    preserved — the thumbnailing step of an image pipeline), and emit a
    fixed-size feature vector (byte-value histogram, {N_FEATURE_BINS}
    bins) as ``array<long>`` — the typed-vector output contract a real
    CLIP/ViT feature extractor would fill. Real pixel work is stubbed
    (no media libs; see _real_decode); the binary-in / vector-out
    mapInPandas shape, batching, and schema are the real thing.
    """
    import numpy as np

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf["data"].map(len).astype("int64")
            w = (n % 640 + 1).astype("int64")
            h = ((n * 7) % 480 + 1).astype("int64")
            m = np.maximum(w, h)
            new_w = np.maximum(1, (w * RESIZE_BOX) // m)
            new_h = np.maximum(1, (h * RESIZE_BOX) // m)
            feats = [
                np.bincount(
                    np.frombuffer(bytes(p), dtype=np.uint8) // 32,
                    minlength=N_FEATURE_BINS,
                ).astype("int64").tolist()
                for p in pdf["data"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "source": pdf["source"],
                    "new_w": new_w.astype("int32"),
                    "new_h": new_h.astype("int32"),
                    "features": feats,
                }
            )

    return df.mapInPandas(extract, FEATURE_SCHEMA)


PHASH_BITS = 60  # single positive-BIGINT fingerprint, the simhash discipline

PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("phash", LongType()),
    ]
)


def perceptual_hash(df: DataFrame) -> DataFrame:
    """Block-mean perceptual hash over binary media — the aHash family
    (average hash: bit j = is block j brighter than the image mean?),
    computed here over PHASH_BITS contiguous byte blocks because the
    container has no pixel decode (byte i lands in block
    (i * PHASH_BITS) div n). On a real image pipeline the same
    mapInPandas slot computes the identical statistic over a decoded
    8x8 luma thumbnail; everything downstream (banded hamming join,
    dedup policy) is byte-vs-pixel agnostic.

    All arithmetic is exact integers — block sums vs the cross-
    multiplied overall mean (s_j * n > total * l_j), so the fingerprint
    replays bit-for-bit in the SQL oracle. Arrow-batched; one task
    holds one batch of media."""
    import numpy as np

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for p in pdf["data"]:
                b = np.frombuffer(bytes(p), dtype=np.uint8).astype(np.int64)
                n = len(b)
                if n == 0:
                    hashes.append(0)
                    continue
                blk = (np.arange(n) * PHASH_BITS) // n
                s = np.bincount(blk, weights=b, minlength=PHASH_BITS).astype(
                    np.int64
                )
                ln = np.bincount(blk, minlength=PHASH_BITS).astype(np.int64)
                total = int(b.sum())
                bits = (s * n) > (total * ln)
                hashes.append(
                    int((bits.astype(np.int64) << np.arange(PHASH_BITS)).sum())
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "phash": pd.Series(hashes, dtype="int64")}
            )

    return df.mapInPandas(hash_batch, PHASH_SCHEMA)


def perceptual_hash_words(
    df: DataFrame, word_bits: tuple[int, ...] = (60, 60)
) -> DataFrame:
    """Multi-word block-mean perceptual hash — the fingerprint-width
    scale knob (the dedup_simhash_xwide pattern applied to media): the
    payload splits into sum(word_bits) finer blocks, word w carrying
    its contiguous slice as one positive BIGINT. Wider fingerprints buy
    wider lossless band keys at the same absolute hamming radius,
    which is what keeps the candidate join sub-quadratic past ~100k
    assets (banded candidates grow as n^2 / 2^key_width). Same exact-
    integer block statistic as :func:`perceptual_hash`."""
    import numpy as np

    total = sum(word_bits)
    offsets = [sum(word_bits[:w]) for w in range(len(word_bits))]
    schema = StructType(
        [StructField("doc_id", LongType())]
        + [StructField(f"sig{w}", LongType()) for w in range(len(word_bits))]
    )

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            words: list[list[int]] = [[] for _ in word_bits]
            for p in pdf["data"]:
                b = np.frombuffer(bytes(p), dtype=np.uint8).astype(np.int64)
                n = len(b)
                if n == 0:
                    for w in range(len(word_bits)):
                        words[w].append(0)
                    continue
                blk = (np.arange(n) * total) // n
                s = np.bincount(blk, weights=b, minlength=total).astype(np.int64)
                ln = np.bincount(blk, minlength=total).astype(np.int64)
                bits = (s * n) > (int(b.sum()) * ln)
                for w, nb in enumerate(word_bits):
                    sl = bits[offsets[w] : offsets[w] + nb].astype(np.int64)
                    words[w].append(int((sl << np.arange(nb)).sum()))
            out = {"doc_id": pdf["doc_id"]}
            for w in range(len(word_bits)):
                out[f"sig{w}"] = pd.Series(words[w], dtype="int64")
            yield pd.DataFrame(out)

    return df.mapInPandas(hash_batch, schema)
