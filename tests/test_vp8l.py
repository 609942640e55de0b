"""WebP header reader (functions/imagemeta.webp_meta) over the RIFF
container: VP8L (lossless) header bits, the lossy VP8 key-frame header,
the VP8X canvas and the ANMF frame count, and real WebP headers through
the mm02/mm03/mm04 mapInPandas pipelines."""

from __future__ import annotations

from db_converter_spark.functions.imagemeta import webp_meta
from db_converter_spark.operators.multimodal import decode_image, resize_image, sample_frames
from tests.image_fixtures import webp_anim, webp_vp8, webp_vp8l, webp_vp8x

_STILL = {"bit_depth": 8, "n_frames": 1, "format": "webp"}


def test_container_meta_decode_resize():
    w, h = 30, 44
    payload = webp_vp8l(w, h)
    assert webp_meta(payload) == {"width": w, "height": h, **_STILL}
    assert decode_image(payload) == {
        "width": w, "height": h, "n_frames": 1, "format": "webp",
    }
    # no pixel decoder: a recognised image gets NULL outputs
    assert resize_image(payload) is None
    # the VP8X canvas wins over the dimensions of the stream inside it
    assert webp_meta(webp_vp8x(64, 48)) == {"width": 64, "height": 48, **_STILL}


def test_animation_meta_and_frames():
    anim = webp_anim(16, 12, 5)
    m = webp_meta(anim)
    assert m["n_frames"] == 5 and (m["width"], m["height"]) == (16, 12)
    assert sample_frames(anim) is None  # frame count known, frames not decoded


def test_lossy_vp8_header_gives_real_dims_but_no_pixels():
    payload = webp_vp8(320, 240)
    assert webp_meta(payload) == {"width": 320, "height": 240, **_STILL}
    assert resize_image(payload) is None
    # an inter frame (frame-tag bit 0 set) carries no dimensions
    inter = bytearray(payload)
    inter[20] |= 1
    assert webp_meta(bytes(inter)) is None


def test_garbage_and_truncation_return_none():
    assert webp_meta(b"not a webp at all") is None
    payload = webp_vp8l(40, 30)
    assert webp_meta(payload[:14]) is None  # container, no complete chunk
    assert webp_meta(payload[:24]) is None  # VP8L chunk cut short
    assert webp_meta(payload[:8] + b"WAVE" + payload[12:]) is None


def test_mm_operators_decode_real_webp(spark):
    """Real WebP payloads through the actual mapInPandas pipelines: mm02
    reads true still, lossy and animation metadata; mm03/mm04 rows of an
    image are NULL without PIL; the stub fallback stays intact for
    non-image payloads."""
    from db_converter_spark.operators.multimodal import (
        _MM02_SCHEMA,
        _MM03_SCHEMA,
        _MM04_SCHEMA,
        _decode_image_batch,
        _resize_batch,
        _sample_frames_batch,
    )

    payloads = [
        (1, webp_vp8l(300, 200)),
        (2, webp_anim(24, 18, 9)),
        (3, b"plainly not an image"),
        (4, webp_vp8(320, 240)),
    ]
    df = spark.createDataFrame(payloads, "doc_id LONG, payload BINARY")

    metas = {
        r["doc_id"]: r
        for r in df.mapInPandas(_decode_image_batch, schema=_MM02_SCHEMA).collect()
    }
    assert (metas[1]["width"], metas[1]["height"], metas[1]["format"]) == (
        300, 200, "webp",
    )
    assert metas[2]["n_frames"] == 9
    assert metas[3]["format"] in ("png", "jpeg", "webp", "gif")  # stub
    assert (metas[4]["width"], metas[4]["height"]) == (320, 240)

    samples = {
        r["doc_id"]: r
        for r in df.mapInPandas(_sample_frames_batch, schema=_MM03_SCHEMA).collect()
    }
    assert tuple(samples[2])[1:] == (None, None, None)
    assert samples[3]["n_sampled"] is not None

    sizes = {
        r["doc_id"]: r
        for r in df.mapInPandas(_resize_batch, schema=_MM04_SCHEMA).collect()
    }
    for doc_id in (1, 2, 4):  # stub bitstreams: even PIL cannot decode them
        assert tuple(sizes[doc_id])[1:] == (None,) * 6
    assert sizes[3]["dst_w"] is not None
