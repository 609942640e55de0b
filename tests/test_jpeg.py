"""JPEG header reader (functions/imagemeta.jpeg_meta): baseline and
progressive frame headers, truncation, and real JPEG headers through the
mm02/mm03/mm04 mapInPandas pipelines."""

from __future__ import annotations

from db_converter_spark.functions.imagemeta import jpeg_meta
from db_converter_spark.operators.multimodal import decode_image, resize_image, sample_frames
from tests.image_fixtures import jpeg_baseline, jpeg_progressive_header, png


def test_baseline_header_meta():
    for ncomp in (1, 3):
        meta = jpeg_meta(jpeg_baseline(41, 23, ncomp))
        assert meta == {
            "width": 41, "height": 23, "bit_depth": 8, "n_components": ncomp,
            "progressive": False, "n_frames": 1, "format": "jpeg",
        }


def test_meta_on_progressive_header_but_decode_falls_back():
    """A progressive (SOF2) header: the metadata parses, since width and
    height live in the frame header, but there is no pixel decoder, so
    resize and frame sampling fall back to NULL outputs, never to stub
    rows computed from the encoded bytes."""
    payload = jpeg_progressive_header(20, 30)
    meta = jpeg_meta(payload)
    assert meta["width"] == 20 and meta["height"] == 30 and meta["progressive"]
    assert decode_image(payload) == {
        "width": 20, "height": 30, "n_frames": 1, "format": "jpeg",
    }
    assert resize_image(payload) is None
    assert sample_frames(payload) is None


def test_truncated_frame_header_returns_none():
    """A JPEG cut inside its SOF segment: the marker walk sees the segment
    length but not the six bytes of precision and dimensions."""
    payload = jpeg_baseline(24, 16)
    sof = payload.index(b"\xff\xc0")
    for cut in range(sof + 4, sof + 10):
        assert jpeg_meta(payload[:cut]) is None
        decode_image(payload[:cut])  # falls to the stub, does not raise
    assert jpeg_meta(payload[: sof + 10])["width"] == 24


def test_non_jpeg_returns_none():
    assert jpeg_meta(b"not a jpeg") is None
    assert jpeg_meta(b"\xff\xd8broken") is None
    assert jpeg_meta(b"\xff\xd8\xff\xd9") is None  # SOI + EOI, no frame
    assert jpeg_meta(png(8, 8)) is None  # PNG payloads are not claimed


def test_resize_contract():
    """Without PIL a recognised JPEG has no resampler: ``resize_image``
    gives None (NULL outputs) instead of the stub's stride decimation."""
    from db_converter_spark.operators.multimodal import _pil_available, resize_stub

    payload = jpeg_baseline(64, 32)
    if _pil_available():
        w, h, dw, dh, _ = resize_image(payload)
        assert (w, h, dw, dh) == (64, 32, 64, 32)
    else:
        assert resize_image(payload) is None
    assert resize_image(b"text bytes") == resize_stub(b"text bytes")


def test_mm_operators_decode_real_jpeg(spark):
    """Real JPEG payloads through the actual mapInPandas pipelines: mm02's
    metadata is the TRUE dimensions (not the stub's md5-derived fake);
    mm03/mm04 rows of an image are NULL; the stub fallback stays intact
    for non-image payloads."""
    from db_converter_spark.operators.multimodal import (
        _MM02_SCHEMA,
        _MM03_SCHEMA,
        _MM04_SCHEMA,
        _decode_image_batch,
        _pil_available,
        _resize_batch,
        _sample_frames_batch,
    )

    payloads = [
        (1, jpeg_baseline(640, 480)),
        (2, jpeg_progressive_header(100, 50, 1)),
        (3, b"plainly not an image"),
    ]
    df = spark.createDataFrame(payloads, "doc_id LONG, payload BINARY")
    metas = {
        r["doc_id"]: r
        for r in df.mapInPandas(_decode_image_batch, schema=_MM02_SCHEMA).collect()
    }
    assert (metas[1]["width"], metas[1]["height"], metas[1]["format"]) == (
        640, 480, "jpeg",
    )
    assert (metas[2]["width"], metas[2]["height"]) == (100, 50)
    assert metas[3]["format"] in ("png", "jpeg", "webp", "gif")  # stub path

    samples = {
        r["doc_id"]: r
        for r in df.mapInPandas(_sample_frames_batch, schema=_MM03_SCHEMA).collect()
    }
    assert tuple(samples[1])[1:] == tuple(samples[2])[1:] == (None, None, None)
    assert samples[3]["sample_md5"] is not None

    sizes = {
        r["doc_id"]: r
        for r in df.mapInPandas(_resize_batch, schema=_MM04_SCHEMA).collect()
    }
    assert tuple(sizes[2])[1:] == (None,) * 6
    if not _pil_available():
        assert tuple(sizes[1])[1:] == (None,) * 6
    assert sizes[3]["resized_md5"] is not None
