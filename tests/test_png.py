"""PNG header reader (functions/imagemeta.png_meta) and real PNG headers
through the mm02/mm03/mm04 mapInPandas pipelines."""

from __future__ import annotations

from db_converter_spark.functions.imagemeta import png_meta
from tests.image_fixtures import gif_anim, jpeg_baseline, png


def test_ihdr_fields_for_every_color_type():
    for color_type in (0, 2, 4, 6):
        meta = png_meta(png(9, 5, color_type))
        assert meta == {
            "width": 9, "height": 5, "bit_depth": 8, "color_type": color_type,
            "interlaced": False, "n_frames": 1, "format": "png",
        }
    assert png_meta(png(3, 3, interlace=1))["interlaced"] is True


def test_non_png_returns_none():
    real = png(8, 8)
    assert png_meta(b"not a png at all") is None
    assert png_meta(real[:32]) is None  # cut inside IHDR
    assert png_meta(real[:12] + b"IDAT" + real[16:]) is None  # IHDR not first
    assert png_meta(jpeg_baseline(8, 8)) is None
    assert png_meta(gif_anim(4, 4, 1)) is None


def test_mm_operators_decode_real_png(spark):
    """Real PNG payloads through the actual mapInPandas pipelines: mm02
    reports the TRUE dimensions, not the stub's md5-derived fake; mm03
    and mm04 have no pixel decoder without PIL, so the image rows are
    NULL while a text payload keeps its stub row."""
    from db_converter_spark.operators.multimodal import (
        _MM02_SCHEMA,
        _MM03_SCHEMA,
        _MM04_SCHEMA,
        _decode_image_batch,
        _pil_available,
        _resize_batch,
        _sample_frames_batch,
    )

    payloads = [(1, png(640, 480)), (2, png(100, 50, 6)), (3, b"plainly not an image")]
    df = spark.createDataFrame(payloads, "doc_id LONG, payload BINARY")
    metas = {
        r["doc_id"]: r
        for r in df.mapInPandas(_decode_image_batch, schema=_MM02_SCHEMA).collect()
    }
    assert (metas[1]["width"], metas[1]["height"], metas[1]["format"]) == (640, 480, "png")
    assert (metas[2]["width"], metas[2]["height"], metas[2]["n_frames"]) == (100, 50, 1)
    assert metas[3]["format"] in ("png", "jpeg", "webp", "gif")  # stub path

    samples = {
        r["doc_id"]: r
        for r in df.mapInPandas(_sample_frames_batch, schema=_MM03_SCHEMA).collect()
    }
    assert tuple(samples[1])[1:] == (None, None, None)
    assert samples[3]["n_frames"] == len(b"plainly not an image") // 16

    sizes = {
        r["doc_id"]: r
        for r in df.mapInPandas(_resize_batch, schema=_MM04_SCHEMA).collect()
    }
    if _pil_available():
        assert (sizes[1]["dst_w"], sizes[1]["dst_h"]) == (224, 168)
    else:
        assert tuple(sizes[1])[1:] == (None,) * 6
        assert tuple(sizes[2])[1:] == (None,) * 6
    assert sizes[3]["src_w"] is not None  # stub path
