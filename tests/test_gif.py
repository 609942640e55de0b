"""GIF header reader (functions/imagemeta.gif_meta): the logical screen,
the count of complete frames, and real GIF headers through the
mm02/mm03/mm04 mapInPandas pipelines."""

from __future__ import annotations

from db_converter_spark.functions.imagemeta import gif_meta
from tests.image_fixtures import gif_anim, png


def test_animated_meta_counts_frames():
    for n in (1, 2, 9):
        assert gif_meta(gif_anim(37, 21, n)) == {
            "width": 37, "height": 21, "bit_depth": 8, "n_frames": n, "format": "gif",
        }
    gif87 = b"GIF87a" + gif_anim(5, 4, 2)[6:]
    assert gif_meta(gif87)["n_frames"] == 2


def test_truncated_tail_frame_is_not_counted():
    """A tail-chopped two-frame GIF: only a frame whose descriptor and
    LZW sub-blocks (terminator included) lie in bounds is counted."""
    payload = gif_anim(19, 13, 2)
    # cut the trailer and the tail of the second frame's sub-blocks
    assert gif_meta(payload[:-10])["n_frames"] == 1
    # cut inside the first frame's image data: nothing complete, so None
    first = payload.index(b"\x21\xf9") + 8  # past the graphic control block
    assert payload[first] == 0x2C
    assert gif_meta(payload[: first + 14]) is None
    # without the trailer the two complete frames still count
    assert gif_meta(payload[:-1])["n_frames"] == 2
    assert gif_meta(payload)["n_frames"] == 2


def test_non_gif_returns_none():
    assert gif_meta(b"not a gif") is None
    assert gif_meta(b"GIF89abroken") is None
    assert gif_meta(gif_anim(4, 4, 1)[:13]) is None  # screen only, no frame
    assert gif_meta(png(4, 4)) is None


def test_mm_operators_decode_real_gif(spark):
    """Real GIF payloads through the actual mapInPandas pipelines: mm02
    reports the TRUE frame count of an animation; mm03 and mm04 have no
    frame decoder without PIL, so the animation's rows are NULL; the stub
    fallback stays intact for non-image payloads."""
    from db_converter_spark.operators.multimodal import (
        _MM02_SCHEMA,
        _MM03_SCHEMA,
        _MM04_SCHEMA,
        _decode_image_batch,
        _pil_available,
        _resize_batch,
        _sample_frames_batch,
    )

    w, h = 300, 200
    payloads = [(1, gif_anim(w, h, 9)), (3, b"plainly not an image")]
    df = spark.createDataFrame(payloads, "doc_id LONG, payload BINARY")

    metas = {
        r["doc_id"]: r
        for r in df.mapInPandas(_decode_image_batch, schema=_MM02_SCHEMA).collect()
    }
    assert (metas[1]["width"], metas[1]["height"]) == (w, h)
    assert (metas[1]["n_frames"], metas[1]["format"]) == (9, "gif")

    samples = {
        r["doc_id"]: r
        for r in df.mapInPandas(_sample_frames_batch, schema=_MM03_SCHEMA).collect()
    }
    assert tuple(samples[1])[1:] == (None, None, None)
    assert samples[3]["n_frames"] > 0  # stub path still alive

    sizes = {
        r["doc_id"]: r
        for r in df.mapInPandas(_resize_batch, schema=_MM04_SCHEMA).collect()
    }
    if _pil_available():
        assert (sizes[1]["dst_w"], sizes[1]["dst_h"]) == (224, 149)
    else:
        assert tuple(sizes[1])[1:] == (None,) * 6
    assert sizes[3]["n_bytes_out"] > 0
