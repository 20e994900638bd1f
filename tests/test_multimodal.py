"""Multimodal plumbing tests: schema, batch shapes, null/corrupt rows,
deterministic fake kernels, and backend validation (FIXTURES.md has
no binary tables, so media rows are synthesized from document text)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from document_vector_indexer_spark.operators import multimodal as MM


@pytest.fixture(scope="module")
def media_df(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(30)
    rows = [
        (
            r.doc_id,
            "image" if r.doc_id % 3 == 0 else ("video" if r.doc_id % 3 == 1 else "audio"),
            r.text.encode() if r.doc_id % 10 != 7 else None,  # some corrupt rows
            "application/octet-stream",
            16,
            12,
            3500 if r.doc_id % 3 == 1 else None,
        )
        for r in docs.collect()
    ]
    return spark.createDataFrame(rows, MM.MEDIA_SCHEMA)


def test_image_features_shape_and_determinism(spark, media_df):
    out = MM.image_features(media_df).orderBy("media_id")
    rows = out.collect()
    assert rows, "no image rows produced"
    for r in rows:
        if r.n_bytes == 0:
            assert r.thumbnail is None and r.mean_intensity is None
        else:
            assert len(r.thumbnail) == 64
            assert 0.0 <= r.mean_intensity <= 255.0
    # determinism across runs
    again = MM.image_features(media_df).orderBy("media_id").collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_frame_sample_fanout(spark, media_df):
    out = MM.frame_sample(media_df, every_ms=1000)
    pdf = out.toPandas()
    assert not pdf.empty
    # 3500 ms at 1000 ms stride -> frames at 0,1000,2000,3000
    per = pdf.groupby("media_id").size()
    assert (per == 4).all()
    assert set(pdf.frame_idx.unique()) == {0, 1, 2, 3}


def test_unknown_backend_rejected(spark, media_df):
    """A backend outside the two tiers — a library name or a typo —
    is a caller error naming the accepted values, raised before any
    plan is built."""
    for op in (MM.image_features, MM.image_stats):
        for bad in ("pil", "ffmpeg", "stdlb"):
            with pytest.raises(ValueError, match="'fake' or 'stdlib'"):
                op(media_df, backend=bad)


def test_corrupt_rows_do_not_fail_job(spark, media_df):
    n_images = media_df.filter(F.col("kind") == "image").count()
    out = MM.image_features(media_df)
    assert out.count() == n_images  # corrupt rows present as null-feature rows


# --- golden drop-in contract (round-4 VERDICT item 8) -----------------
#
# The fake kernels' outputs over a FIXED literal input are pinned to
# tests/golden/multimodal_golden.json. A future real decode backend
# (multimodal.py _require_backend) must keep the mapInPandas signature,
# output schema, null/corrupt-row rules, and batch-shape independence;
# only pixel VALUES may change. If a kernel ever changes on purpose,
# regenerate the golden in its own commit by writing
# ``json.dump(run_golden_ops(spark, golden_input_rows()), f, indent=1,
# sort_keys=True)`` to GOLDEN_PATH from a get_spark session.

GOLDEN_PATH = __file__.rsplit("/", 1)[0] + "/golden/multimodal_golden.json"


def golden_input_rows():
    """Pinned literal media rows: every kind, a null-content image, an
    empty-content image, mixed dims."""
    return [
        (1, "image", b"alpha-image-bytes" * 4, "image/x-fake", 16, 12, None),
        (2, "image", b"beta", "image/x-fake", 8, 8, None),
        (3, "image", None, "image/x-fake", 16, 12, None),
        (4, "image", b"", "image/x-fake", 16, 12, None),
        (5, "video", b"video-payload" * 3, "video/x-fake", 16, 12, 3500),
        (6, "audio", b"audio-payload", "audio/x-fake", None, None, 2200),
        (7, "video", b"clip", "video/x-fake", 8, 8, 900),
    ]


def run_golden_ops(spark, rows):
    """The fake image-feature and frame-sample kernels over the pinned
    input, as plain JSON-able dicts (floats kept exact: double
    arithmetic is deterministic here and JSON round-trips shortest-repr
    doubles)."""
    df = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    feats = [
        {
            "media_id": r.media_id,
            "n_bytes": r.n_bytes,
            "thumbnail": list(r.thumbnail) if r.thumbnail is not None else None,
            "mean_intensity": r.mean_intensity,
        }
        for r in MM.image_features(df, thumb=(4, 4)).orderBy("media_id").collect()
    ]
    frames = [
        {
            "media_id": r.media_id,
            "frame_idx": r.frame_idx,
            "ts_ms": r.ts_ms,
            "frame_digest": r.frame_digest,
        }
        for r in MM.frame_sample(df, every_ms=1000)
        .orderBy("media_id", "frame_idx")
        .collect()
    ]
    return {
        "image_features_4x4": feats,
        "frame_sample_1000ms": frames,
    }


def test_golden_contract(spark):
    import json

    with open(GOLDEN_PATH) as f:
        golden = json.load(f)
    got = run_golden_ops(spark, golden_input_rows())
    # exact match, floats included: the fake kernels are deterministic
    # double arithmetic and the golden stores round-tripping reprs
    assert got == golden


def test_golden_batch_shape_independence(spark):
    """The kernel contract must not depend on Arrow batch boundaries:
    forcing 2-row batches (vs one batch for all 7 rows) yields
    identical output."""
    import json

    with open(GOLDEN_PATH) as f:
        golden = json.load(f)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        got = run_golden_ops(spark, golden_input_rows())
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert got == golden


def test_golden_output_schemas_pinned(spark):
    """Field names, types, and order of every kernel's output schema —
    the part of the contract a real backend must not move."""
    df = spark.createDataFrame(golden_input_rows(), MM.MEDIA_SCHEMA)
    assert [
        (f.name, f.dataType.simpleString())
        for f in MM.image_features(df).schema.fields
    ] == [
        ("media_id", "bigint"),
        ("n_bytes", "bigint"),
        ("thumbnail", "array<float>"),
        ("mean_intensity", "double"),
    ]
    assert [
        (f.name, f.dataType.simpleString())
        for f in MM.frame_sample(df).schema.fields
    ] == [
        ("media_id", "bigint"),
        ("frame_idx", "int"),
        ("ts_ms", "bigint"),
        ("frame_digest", "string"),
    ]


# --- image_stats / q_multimodal_pinned (r10, r9 VERDICT item 3) --------


def test_image_stats_exact_integers_and_null_rows(spark, media_df):
    """image_stats emits one row per image row: fake backend uses
    metadata dims and the sha-seeded pixel stream (exact integer total);
    null content -> all-null stat columns."""
    out = {r.media_id: r for r in MM.image_stats(media_df).collect()}
    n_images = media_df.filter(F.col("kind") == "image").count()
    assert len(out) == n_images
    for r in out.values():
        if r.fmt is None:
            assert (r.width, r.height, r.px_total) == (None, None, None)
        else:
            assert r.fmt == "fake" and (r.width, r.height) == (16, 12)
            assert 0 <= r.px_total <= 255 * 16 * 12


def test_image_stats_stdlib_roundtrip_all_codecs(spark):
    """The planted grayscale pattern survives encode -> stdlib decode
    bit-exactly through ALL THREE codecs (PNG filter types 0-4, 24-bit
    BMP via identity luma, binary P5), and undecodable bytes yield a
    null row, not a job failure."""
    from document_vector_indexer_spark.queries.extras import _pinned_image
    from document_vector_indexer_spark.sources import miniimage

    rows = []
    for did in range(12):
        w, h, px, fmt = _pinned_image(did)
        if fmt == "png":
            content = miniimage.encode_png(w, h, px, 0, filter_type=did % 5)
        elif fmt == "bmp":
            content = miniimage.encode_bmp(w, h, [(v, v, v) for v in px])
        else:
            content = miniimage.encode_pnm(w, h, px, gray=True)
        rows.append((did, "image", content, None, None, None, None))
    rows.append((99, "image", b"not an image at all", None, None, None, None))
    df = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    got = {r.media_id: r for r in MM.image_stats(df, backend="stdlib").collect()}
    for did in range(12):
        w, h, px, fmt = _pinned_image(did)
        r = got[did]
        assert (r.fmt, r.width, r.height, r.px_total) == (fmt, w, h, sum(px)), did
    assert got[99].fmt is None and got[99].px_total is None


def test_q_multimodal_pinned_matches_duckdb_oracle(spark):
    """Full driver-shaped parity for the oracled sibling at sf0.001."""
    from parity_util import compare, duckdb_conn

    from document_vector_indexer_spark.queries.extras import QUERIES

    spec = QUERIES["q_multimodal_pinned"]
    sf = "/root/testdata/sf0.001"
    compare(spec.fn(spark, sf), duckdb_conn(sf), spec.oracle, "q_multimodal_pinned")
