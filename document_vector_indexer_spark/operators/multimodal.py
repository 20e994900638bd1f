"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, with image feature extraction, image stats and video frame
sampling as Arrow-batched ``mapInPandas`` operators.

Image kernels have two decode tiers, chosen by ``backend``:
``"stdlib"`` decodes PNG/BMP/PNM from the public specs with nothing
but ``zlib``/``struct`` (``sources.miniimage`` — same tier policy as
the stdlib PDF parser, never silent garbage); ``"fake"`` (default)
runs a deterministic pure-Python stand-in at the metadata dims. Any
other value raises ``ValueError``. ``frame_sample`` has no decode tier
(video codecs are not stdlib-implementable): its frames are content
digests. The fake outputs over a fixed literal input are pinned by
tests/golden/multimodal_golden.json. Everything Spark-side — schema,
partition sizing, UDF signatures, batch shapes, null/corrupt-row
handling — is identical across tiers and tested
(tests/test_multimodal.py, tests/test_miniimage.py).

Scale design: media bytes ride in their own column so column pruning
skips them unless a kernel needs pixels; operators are mapInPandas
(per-partition Arrow batches), so throughput scales with executors and
no media blob ever passes through the driver. Partition sizing for
blob-heavy tables: keep ``spark.sql.files.maxPartitionBytes`` at
128 MB and rely on parquet row-group pruning for the metadata-only
queries.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import Literal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("content", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),   # images/video
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),  # audio/video
    ]
)

Backend = Literal["fake", "stdlib"]


def _require_backend(backend: Backend) -> None:
    if backend not in ("fake", "stdlib"):
        raise ValueError(f"backend must be 'fake' or 'stdlib', got {backend!r}")


def _fake_pixels(content: bytes, w: int, h: int) -> list[int]:
    """Deterministic pixel stand-in: sha256-seeded byte stream."""
    seed = hashlib.sha256(content).digest()
    need = w * h
    out = bytearray()
    counter = 0
    while len(out) < need:
        out.extend(hashlib.sha256(seed + counter.to_bytes(4, "big")).digest())
        counter += 1
    return list(out[:need])


def _decode_pixels(
    backend: Backend, content: bytes, meta_w: int, meta_h: int
) -> "tuple[int, int, list[int]] | None":
    """(w, h, grayscale pixels) or None for not-decodable content.

    ``fake``: sha256 stand-in at the METADATA dims (pinned by
    tests/golden/multimodal_golden.json). ``stdlib``: real PNG/BMP/PNM
    decode (``sources.miniimage``, public specs, zlib only) at the
    dims the IMAGE declares — metadata dims are advisory at ingest
    time and the pixels are the truth. Decode failures return None
    (corrupt media must never kill a 100 TB job; the operators emit a
    null-feature row, same rule the golden contract pins for
    null/empty content)."""
    if backend == "fake":
        return meta_w, meta_h, _fake_pixels(content, meta_w, meta_h)
    from document_vector_indexer_spark.sources import miniimage

    try:
        return miniimage.decode_image(content)
    except ValueError:
        return None


def image_features(
    df: DataFrame,
    backend: Backend = "fake",
    thumb: tuple[int, int] = (8, 8),
) -> DataFrame:
    """Decode images and emit fixed-size feature rows: a thumb x thumb
    mean-pooled grayscale thumbnail (as array<float>) + basic stats.
    Null/empty content yields a row with null features (corrupt media
    must never kill a 100 TB job)."""
    import pandas as pd

    _require_backend(backend)
    tw, th = thumb
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("thumbnail", T.ArrayType(T.FloatType())),
            T.StructField("mean_intensity", T.DoubleType()),
        ]
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                content = r.content
                if content is None or len(content) == 0:
                    rows.append((r.media_id, 0, None, None))
                    continue
                decoded = _decode_pixels(
                    backend, bytes(content), int(r.width or tw), int(r.height or th)
                )
                if decoded is None:  # undecodable != job failure
                    rows.append((r.media_id, len(content), None, None))
                    continue
                w, h, px = decoded
                # mean-pool to thumb grid
                tn = []
                for ty in range(th):
                    for tx in range(tw):
                        xs = range(tx * w // tw, max(tx * w // tw + 1, (tx + 1) * w // tw))
                        ys = range(ty * h // th, max(ty * h // th + 1, (ty + 1) * h // th))
                        vals = [px[y * w + x] for y in ys for x in xs]
                        tn.append(float(sum(vals)) / len(vals))
                rows.append(
                    (r.media_id, len(content), tn, float(sum(px)) / len(px))
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "n_bytes", "thumbnail", "mean_intensity"]
            )

    return df.filter(F.col("kind") == "image").mapInPandas(run, schema=out_schema)


def image_stats(df: DataFrame, backend: Backend = "fake") -> DataFrame:
    """Per-image decoded stats as EXACT integers — the oracle-able face
    of the decode tier (sniffed format, decoded dims, grayscale pixel
    total). The stdlib tier's decode is deterministic pure arithmetic,
    so these columns can hash-match a DuckDB oracle over mirrored
    literals (unlike ``image_features``'s float pooling). Decoded dims
    are the pixels' truth — metadata dims are ignored except by the
    fake backend, which has no bytes to trust. Null/undecodable content
    yields null stat columns (corrupt media must never kill a 100 TB
    job)."""
    import pandas as pd

    _require_backend(backend)
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("px_total", T.LongType()),
        ]
    )
    cols = [f.name for f in out_schema.fields]

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from document_vector_indexer_spark.sources import miniimage

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                content = r.content
                if content is None or len(content) == 0:
                    rows.append((r.media_id, None, None, None, None))
                    continue
                data = bytes(content)
                if backend == "fake":
                    w, h = int(r.width or 8), int(r.height or 8)
                    px = _fake_pixels(data, w, h)
                    rows.append((r.media_id, "fake", w, h, sum(px)))
                    continue
                fmt = miniimage.sniff_format(data)
                decoded = _decode_pixels(backend, data, 0, 0)
                if decoded is None:
                    rows.append((r.media_id, fmt, None, None, None))
                    continue
                w, h, px = decoded
                rows.append((r.media_id, fmt, w, h, sum(px)))
            yield pd.DataFrame(rows, columns=cols)

    return df.filter(F.col("kind") == "image").mapInPandas(run, schema=out_schema)


def frame_sample(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Sample video frames every ``every_ms``: one output row per
    sampled frame with a content digest (stand-in for the decoded
    frame). Fan-out happens executor-side inside the UDF — the planner
    never sees per-frame rows until after the map."""
    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("ts_ms", T.LongType()),
            T.StructField("frame_digest", T.StringType()),
        ]
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.content is None or not r.duration_ms:
                    continue
                for i, ts in enumerate(range(0, int(r.duration_ms), every_ms)):
                    digest = hashlib.sha256(
                        bytes(r.content) + ts.to_bytes(8, "big")
                    ).hexdigest()[:16]
                    rows.append((r.media_id, i, ts, digest))
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "ts_ms", "frame_digest"]
            )

    return df.filter(F.col("kind") == "video").mapInPandas(run, schema=out_schema)

