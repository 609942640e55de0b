"""Multimodal codec slot-in (SURVEY §6 multimodal family): the Spark-side
plumbing (schema, Arrow batches, mapInPandas) is oracle-verified via
mm01–mm04; these tests pin the codec dispatch: PIL when installed, the
image header readers for a recognised image, and the deterministic stub
for every other payload, so synthetic-testdata oracle rows keep matching."""

from __future__ import annotations

import importlib.util

import pytest

from db_converter_spark.operators.multimodal import (
    decode_image,
    decode_image_stub,
    resize_image,
    resize_stub,
    sample_frames,
    sample_frames_stub,
)

_HAS_PIL = importlib.util.find_spec("PIL") is not None


def test_non_image_payload_falls_back_to_stub():
    # synthetic testdata payloads are text bytes — never decodable; the
    # dispatch must hand them to the stub whether or not PIL is installed
    payload = b"definitely not an image"
    assert decode_image(payload) == decode_image_stub(payload)
    assert resize_image(payload) == resize_stub(payload)
    assert sample_frames(payload) == sample_frames_stub(payload)


def test_stub_is_deterministic():
    p = b"payload-123"
    assert decode_image_stub(p) == decode_image_stub(p)
    w, h, dw, dh, out = resize_stub(p)
    assert (w, h, dw, dh, out) == resize_stub(p)
    assert max(dw, dh) <= 224 or (dw, dh) == (w, h)


@pytest.mark.skipif(not _HAS_PIL, reason="PIL not installed in this container")
def test_real_decoder_path():
    """The real-PIL path: a genuine PNG gets its true dimensions, not the
    md5-derived stub values."""
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (640, 480), (10, 20, 30)).save(buf, format="PNG")
    png = buf.getvalue()

    meta = decode_image(png)
    assert (meta["width"], meta["height"], meta["format"]) == (640, 480, "png")

    w, h, dw, dh, out = resize_image(png)
    assert (w, h) == (640, 480)
    assert (dw, dh) == (224, 168)  # fit-within-224, aspect preserved
    with Image.open(io.BytesIO(out)) as im:
        assert (im.width, im.height) == (224, 168)
