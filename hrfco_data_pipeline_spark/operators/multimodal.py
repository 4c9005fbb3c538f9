"""Multimodal columns: opaque binary payloads + typed metadata.

Design (BASELINE.json north star): image/audio/video payloads ride as
``binary`` columns with a metadata struct; decode / feature-extract /
resize / frame-sample run as Arrow-batched pandas functions via
``mapInPandas`` — the only place Python touches data, and it does so
in columnar batches, not per row.

The actual codecs (PIL/librosa/ffmpeg) are NOT available in this
container, so ``decode_image_batch`` raises NotImplementedError unless
``fake=True``, which substitutes a deterministic byte-histogram
"feature" — the Spark-side plumbing (schemas, batching, partition
shape) is real and tested either way.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MULTIMODAL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("content", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("n_bytes", LongType()),
                    StructField("content_hash", StringType()),
                    StructField("source", StringType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("n_bytes", LongType()),
        StructField("feature", ArrayType(DoubleType())),
    ]
)


def to_multimodal(docs: DataFrame, modality: str = "text-blob") -> DataFrame:
    """Lift a documents table into the multimodal layout (text payload
    stands in for image/audio bytes)."""
    blob = F.encode("text", "UTF-8")
    return docs.select(
        "doc_id",
        F.lit(modality).alias("modality"),
        blob.alias("content"),
        F.struct(
            F.length(blob).cast("long").alias("n_bytes"),
            F.md5(blob).alias("content_hash"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def extract_features(
    mm: DataFrame, fake: bool = False, n_bins: int = 16
) -> DataFrame:
    """Decode + feature-extract via mapInPandas (Arrow batches).

    Real deployments plug a codec into ``_decode``; here the fake path
    computes a deterministic byte-histogram so the distributed plumbing
    (batch shape, schema, partition parallelism) is exercised end to
    end without codec libraries.
    """

    def _decode(content: bytes) -> list[float]:
        if not fake:
            raise NotImplementedError(
                "image/audio codecs are not available in this environment; "
                "pass fake=True for the deterministic byte-histogram stand-in"
            )
        hist = [0] * n_bins
        for b in content:
            hist[b % n_bins] += 1
        total = float(len(content)) or 1.0
        return [h / total for h in hist]

    def batches(it: Iterator) -> Iterator:
        for pdf in it:
            out = pdf[["doc_id", "modality"]].copy()
            out["n_bytes"] = pdf["content"].map(len)
            out["feature"] = pdf["content"].map(_decode)
            yield out

    return mm.mapInPandas(batches, FEATURE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("frame_idx", LongType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames(mm: DataFrame) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads via mapInPandas:
    the payload is treated as a sequence of 64-byte frames (a real
    deployment plugs a container parser here) and every 4th frame is
    emitted as its own row — the fan-out shape (one blob row → n frame
    rows) that feeds per-frame feature extraction. Deterministic
    chunking keeps the whole path oracle-checkable: frame i covers
    bytes [i*64, (i+1)*64).
    """

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            rows = []
            for doc_id, modality, content in zip(
                pdf["doc_id"], pdf["modality"], pdf["content"]
            ):
                n_frames = (len(content) + 63) // 64
                for i in range(0, n_frames, 4):
                    rows.append(
                        (
                            doc_id,
                            modality,
                            i,
                            content[i * 64 : (i + 1) * 64],
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "modality", "frame_idx", "frame"]
            )

    return mm.mapInPandas(batches, FRAME_SCHEMA)


WINDOW_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("win_idx", LongType()),
        StructField("energy", LongType()),
    ]
)


def frame_windows(mm: DataFrame, frame_bytes: int = 64) -> DataFrame:
    """Overlapping windowed framing for audio-like payloads via
    mapInPandas — the STFT-shaped sibling of ``sample_frames`` (which
    chunks WITHOUT overlap): window w covers bytes
    [w*32, w*32 + frame_bytes), only FULL windows are emitted, and each
    carries its integer byte-sum "energy" (a real deployment plugs a
    PCM decoder + spectral kernel here; the integer stand-in keeps the
    fan-out shape and the whole path oracle-checkable).

    Scale shape: one blob row fans out to n_windows rows inside the
    Arrow batch — no shuffle, no per-row Python; downstream per-window
    feature extraction inherits the blob partitioning.
    """
    if frame_bytes < 1:
        raise ValueError("frame_bytes must be >= 1")

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            rows = {"doc_id": [], "modality": [], "win_idx": [], "energy": []}
            for doc_id, modality, content in zip(
                pdf["doc_id"], pdf["modality"], pdf["content"]
            ):
                n = len(content)
                w = 0
                while w * 32 + frame_bytes <= n:
                    start = w * 32
                    rows["doc_id"].append(doc_id)
                    rows["modality"].append(modality)
                    rows["win_idx"].append(w)
                    rows["energy"].append(
                        int(sum(content[start : start + frame_bytes]))
                    )
                    w += 1
            yield pd.DataFrame(rows)

    return mm.mapInPandas(batches, WINDOW_SCHEMA)


PATCH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("py", LongType()),
        StructField("px", LongType()),
        StructField("energy", LongType()),
    ]
)


def image_patches(
    mm: DataFrame, width: int = 32, patch: int = 8
) -> DataFrame:
    """2-D patch windowing for image-like payloads via mapInPandas —
    the ViT-tokenizer shape: the blob is a row-major H x ``width``
    byte grid (H = n_bytes div width; the ragged tail row is
    dropped), cut into a non-overlapping ``patch`` x ``patch`` grid,
    one row per FULL patch with its integer byte-sum energy and grid
    coordinates (py, px). A real deployment plugs an image decoder in
    front and a patch-embedding kernel behind; the integer stand-in
    keeps the 2-D indexing, fan-out shape, and the whole path
    oracle-checkable.

    Scale shape: like frame_windows, one blob row fans out inside the
    Arrow batch — no shuffle, no per-row Python; per-patch downstream
    work inherits the blob partitioning.
    """
    if width < 1 or patch < 1 or width % patch != 0:
        raise ValueError("need width >= patch >= 1 and width % patch == 0")

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            rows = {"doc_id": [], "modality": [], "py": [], "px": [], "energy": []}
            for doc_id, modality, content in zip(
                pdf["doc_id"], pdf["modality"], pdf["content"]
            ):
                h = len(content) // width
                for py in range(h // patch):
                    for px in range(width // patch):
                        e = 0
                        for r in range(patch):
                            start = (py * patch + r) * width + px * patch
                            e += sum(content[start : start + patch])
                        rows["doc_id"].append(doc_id)
                        rows["modality"].append(modality)
                        rows["py"].append(py)
                        rows["px"].append(px)
                        rows["energy"].append(int(e))
            yield pd.DataFrame(rows)

    return mm.mapInPandas(batches, PATCH_SCHEMA)
