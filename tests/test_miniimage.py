"""Stdlib image tier (sources/miniimage.py): encode/decode round-trip
properties across every PNG filter/color type, BMP and PNM variants,
reject-don't-guess cases, and the Spark-side golden drop-in — the
real decoder running through the exact mapInPandas contract the fake
kernel pinned (round-5 VERDICT item 6)."""

from __future__ import annotations

import struct
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from document_vector_indexer_spark.operators import multimodal as MM
from document_vector_indexer_spark.sources import miniimage as MI


def luma(r: int, g: int, b: int) -> int:
    return (299 * r + 587 * g + 114 * b + 500) // 1000


# --------------------------------------------------------------------
# pure-Python round-trip properties (no Spark)
# --------------------------------------------------------------------

dims = st.tuples(st.integers(1, 24), st.integers(1, 16))


@settings(max_examples=40, deadline=None)
@given(
    wh=dims,
    color_type=st.sampled_from([0, 3, 4]),
    filter_type=st.integers(0, 4),
    data=st.data(),
)
def test_png_gray_round_trip(wh, color_type, filter_type, data):
    w, h = wh
    px = data.draw(
        st.lists(st.integers(0, 255), min_size=w * h, max_size=w * h)
    )
    encoded = MI.encode_png(w, h, px, color_type=color_type, filter_type=filter_type)
    gw, gh, got = MI.decode_image(encoded)
    assert (gw, gh) == (w, h)
    assert got == px  # gray / gray-palette / gray+alpha are identity


@settings(max_examples=40, deadline=None)
@given(
    wh=dims,
    color_type=st.sampled_from([2, 6]),
    filter_type=st.integers(0, 4),
    data=st.data(),
)
def test_png_color_round_trip(wh, color_type, filter_type, data):
    w, h = wh
    rgb = data.draw(
        st.lists(
            st.tuples(st.integers(0, 255), st.integers(0, 255), st.integers(0, 255)),
            min_size=w * h,
            max_size=w * h,
        )
    )
    encoded = MI.encode_png(w, h, rgb, color_type=color_type, filter_type=filter_type)
    gw, gh, got = MI.decode_image(encoded)
    assert (gw, gh) == (w, h)
    assert got == [luma(*p) for p in rgb]


def test_png_nongray_palette():
    pal = [(i, 255 - i, (3 * i) % 256) for i in range(256)]
    idx = [0, 17, 255, 128, 64, 3]
    encoded = MI.encode_png(3, 2, idx, color_type=3, palette=pal)
    assert MI.decode_image(encoded)[2] == [luma(*pal[i]) for i in idx]


@settings(max_examples=25, deadline=None)
@given(
    wh=dims,
    bpp=st.sampled_from([24, 32]),
    top_down=st.booleans(),
    data=st.data(),
)
def test_bmp_round_trip(wh, bpp, top_down, data):
    w, h = wh
    rgb = data.draw(
        st.lists(
            st.tuples(st.integers(0, 255), st.integers(0, 255), st.integers(0, 255)),
            min_size=w * h,
            max_size=w * h,
        )
    )
    encoded = MI.encode_bmp(w, h, rgb, bpp=bpp, top_down=top_down)
    gw, gh, got = MI.decode_image(encoded)
    assert (gw, gh) == (w, h)
    assert got == [luma(*p) for p in rgb]


@settings(max_examples=25, deadline=None)
@given(wh=dims, gray=st.booleans(), maxval=st.sampled_from([255, 15, 100]), data=st.data())
def test_pnm_round_trip(wh, gray, maxval, data):
    w, h = wh
    def scale(v):  # integer round-half-up (v*255)/maxval — decoder contract
        return (v * 510 + maxval) // (2 * maxval)

    if gray:
        px = data.draw(
            st.lists(st.integers(0, maxval), min_size=w * h, max_size=w * h)
        )
        exp = px if maxval == 255 else [scale(v) for v in px]
    else:
        px = data.draw(
            st.lists(
                st.tuples(
                    st.integers(0, maxval),
                    st.integers(0, maxval),
                    st.integers(0, maxval),
                ),
                min_size=w * h,
                max_size=w * h,
            )
        )
        exp = [
            luma(*(p if maxval == 255 else tuple(scale(v) for v in p)))
            for p in px
        ]
    encoded = MI.encode_pnm(w, h, px, gray=gray, maxval=maxval)
    gw, gh, got = MI.decode_image(encoded)
    assert (gw, gh) == (w, h)
    assert got == exp


def test_pnm_comment_in_header():
    encoded = MI.encode_pnm(2, 2, [1, 2, 3, 4], gray=True)  # writer emits a comment
    assert MI.decode_image(encoded) == (2, 2, [1, 2, 3, 4])


# --------------------------------------------------------------------
# reject-don't-guess: everything outside the profile raises ValueError
# --------------------------------------------------------------------


def _png_with_ihdr(bit_depth=8, color_type=0, interlace=0):
    ihdr = struct.pack(">IIBBBBB", 2, 2, bit_depth, color_type, 0, 0, interlace)
    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )
    idat = zlib.compress(bytes([0, 1, 2, 0, 3, 4]))
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize(
    "bad",
    [
        _png_with_ihdr(bit_depth=16),
        _png_with_ihdr(color_type=7),
        _png_with_ihdr(interlace=1),
        _png_with_ihdr(color_type=3),  # indexed but no PLTE
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0d",  # truncated chunk
    ],
)
def test_png_rejects(bad):
    with pytest.raises(ValueError):
        MI.decode_image(bad)


def test_png_truncated_idat_rejects():
    good = MI.encode_png(4, 4, list(range(16)), color_type=0, filter_type=2)
    # chop bytes out of the middle of the IDAT body -> zlib error -> ValueError
    i = good.index(b"IDAT")
    bad = good[: i + 8] + good[i + 12 :]
    with pytest.raises(ValueError):
        MI.decode_image(bad)


def test_bmp_rejects():
    good = MI.encode_bmp(2, 2, [(1, 2, 3)] * 4)
    rle = bytearray(good)
    rle[30] = 1  # BI_RLE8
    with pytest.raises(ValueError, match="compression"):
        MI.decode_image(bytes(rle))
    with pytest.raises(ValueError, match="truncated"):
        MI.decode_image(good[:40])


def test_pnm_rejects():
    with pytest.raises(ValueError, match="maxval"):
        MI.decode_image(b"P5\n2 2\n65535\n" + b"\x00" * 8)
    with pytest.raises(ValueError, match="truncated"):
        MI.decode_image(b"P6\n4 4\n255\n" + b"\x00" * 5)


def test_not_an_image():
    with pytest.raises(ValueError):
        MI.decode_image(b"plain text, not pixels")
    assert MI.sniff_format(b"GIF89a...") is None


# --------------------------------------------------------------------
# Spark golden drop-in: the REAL decoder through the pinned contract
# --------------------------------------------------------------------


def real_image_rows():
    """Same shape as test_multimodal.golden_input_rows but with REAL
    image bytes (one per format), a corrupt-bytes image, a null and an
    empty image — exercising every null/corrupt rule with backend
    ='stdlib'. Metadata dims deliberately LIE (9x9) for media_id 1 to
    pin that decoded dims win."""
    png = MI.encode_png(
        16, 12, [(x * 16) % 256 for x in range(16 * 12)], color_type=0, filter_type=4
    )
    bmp = MI.encode_bmp(8, 8, [((x * 7) % 256,) * 3 for x in range(64)])
    pnm = MI.encode_pnm(6, 4, list(range(24)), gray=True)
    return [
        (1, "image", png, "image/png", 9, 9, None),
        (2, "image", bmp, "image/bmp", 8, 8, None),
        (3, "image", None, "image/png", 16, 12, None),
        (4, "image", b"", "image/png", 16, 12, None),
        (5, "image", b"JUNK not an image at all", "image/png", 4, 4, None),
        (6, "image", pnm, "image/x-portable-graymap", 6, 4, None),
    ]


def pool(px, w, h, tw, th):
    """Independent mean-pool reference (mirrors the kernel contract)."""
    out = []
    for ty in range(th):
        for tx in range(tw):
            xs = range(tx * w // tw, max(tx * w // tw + 1, (tx + 1) * w // tw))
            ys = range(ty * h // th, max(ty * h // th + 1, (ty + 1) * h // th))
            vals = [px[y * w + x] for y in ys for x in xs]
            out.append(float(sum(vals)) / len(vals))
    return out


def test_stdlib_backend_image_features(spark):
    df = spark.createDataFrame(real_image_rows(), MM.MEDIA_SCHEMA)
    got = {
        r.media_id: r
        for r in MM.image_features(df, backend="stdlib", thumb=(4, 4)).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5, 6}
    # null/empty content -> null features, n_bytes 0 (pinned rule)
    for mid in (3, 4):
        assert got[mid].n_bytes == 0 and got[mid].thumbnail is None
    # corrupt bytes -> null features but real n_bytes; job survived
    assert got[5].n_bytes == 24 and got[5].thumbnail is None
    assert got[5].mean_intensity is None
    # real decodes: exact mean-pool of the true pixels at DECODED dims
    png_px = [(x * 16) % 256 for x in range(16 * 12)]
    assert got[1].thumbnail == pytest.approx(pool(png_px, 16, 12, 4, 4))
    assert got[1].mean_intensity == pytest.approx(sum(png_px) / len(png_px))
    bmp_px = [luma(*((x * 7) % 256,) * 3) for x in range(64)]
    assert got[2].thumbnail == pytest.approx(pool(bmp_px, 8, 8, 4, 4))
    pnm_px = list(range(24))
    assert got[6].thumbnail == pytest.approx(pool(pnm_px, 6, 4, 4, 4))


def test_stdlib_backend_schema_identical_to_fake(spark):
    """The drop-in rule: backend changes VALUES only, never schema."""
    df = spark.createDataFrame(real_image_rows(), MM.MEDIA_SCHEMA)
    assert (
        MM.image_features(df, backend="stdlib").schema
        == MM.image_features(df, backend="fake").schema
    )
    assert (
        MM.image_stats(df, backend="stdlib").schema
        == MM.image_stats(df, backend="fake").schema
    )


def test_stdlib_batch_shape_independence(spark):
    df = spark.createDataFrame(real_image_rows(), MM.MEDIA_SCHEMA)
    one = MM.image_features(df, backend="stdlib").orderBy("media_id").collect()
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        small = MM.image_features(df, backend="stdlib").orderBy("media_id").collect()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert [tuple(r) for r in one] == [tuple(r) for r in small]


def test_pnm_crlf_after_maxval_rejected():
    good = MI.encode_pnm(2, 1, [9, 9], gray=True)
    bad = good.replace(b"255\n", b"255\r\n")
    with pytest.raises(ValueError, match="CRLF"):
        MI.decode_image(bad)


def test_png_decompression_bomb_bounded():
    """A tiny IDAT inflating far past the declared dims must raise
    ValueError (null row) without allocating the inflated size."""
    bomb_raw = b"\x00" * 10_000_000  # inflates to 10 MB for a 2x2 gray image
    idat = zlib.compress(bomb_raw)

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    bad = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="size mismatch"):
        MI.decode_image(bad)


def test_huge_declared_dims_rejected():
    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 1 << 20, 1 << 20, 8, 0, 0, 0, 0)
    bad = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"")) + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="pixel cap"):
        MI.decode_image(bad)
    with pytest.raises(ValueError, match="pixel cap"):
        MI.decode_image(b"P5\n100000 100000\n255\n")
