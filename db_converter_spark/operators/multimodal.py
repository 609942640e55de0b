"""Multimodal columns: image/audio/video payloads as opaque ``binary``
columns with typed metadata, processed by Arrow-batched Pandas UDFs via
``mapInPandas``.

Each per-payload function is a codec slot-in point with three legs:

- PIL, when it is installed, does the pixel work (metadata, resize);
- otherwise the header readers in ``functions/imagemeta.py`` recognise a
  PNG, JPEG, GIF or WebP payload and give its true width, height, frame
  count and format. They decode no pixel, so frame sampling and resize
  give NULL outputs for a recognised image;
- any other payload goes to a clearly-marked deterministic stub
  (``decode_image_stub``, ``sample_frames_stub``, ``resize_stub``).

The synthetic corpus's payloads are UTF-8 text bytes, so they take the
stub leg. Its md5-derived fake metadata is what the DuckDB oracle pins,
which keeps the whole Arrow round-trip (binary column → batch iterator →
output schema) verifiable end to end. Real image headers go through the
same pipelines in tests/test_png.py, test_jpeg.py, test_gif.py and
test_vp8l.py.

At 100 TB: binary payloads ride in parquet with the metadata columns
alongside; ``spark.sql.files.maxPartitionBytes`` bounds scan partitions;
the Pandas UDF processes Arrow batches (``spark.sql.execution.arrow.
maxRecordsPerBatch``) so peak memory is batch-bounded, not partition-bounded.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import lru_cache

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from db_converter_spark.catalog import load_table
from db_converter_spark.functions.imagemeta import image_meta
from db_converter_spark.registry import query

_MM01_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("content_md5", StringType()),
    ]
)


def _decode_binary_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: per Arrow batch, 'decode' the binary payload into
    metadata. Real codecs (PIL/ffmpeg) slot in here unchanged."""
    import hashlib

    for pdf in batches:
        payload = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": payload.map(len).astype("int64"),
                "content_md5": payload.map(lambda b: hashlib.md5(bytes(b)).hexdigest()),
            }
        )


_MM01_DUCK = """
SELECT doc_id,
  CAST(strlen(text) AS BIGINT) AS n_bytes,
  md5(text) AS content_md5
FROM documents
WHERE doc_id % 10 = 0
"""


@query("mm01_binary_decode", oracle=_MM01_DUCK, tags=("multimodal", "udf"))
def mm01_binary_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column → mapInPandas decode pipeline. The payload is the UTF-8
    encoding of ``text`` (a stand-in for image bytes); the 'decode' extracts
    byte length + md5 inside the Pandas UDF, so the oracle can verify the
    whole Arrow round-trip produced exactly the original bytes."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    )
    return docs.mapInPandas(_decode_binary_batch, schema=_MM01_SCHEMA)


_MM02_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_frames", LongType()),
        StructField("format", StringType()),
    ]
)


def decode_image_stub(payload: bytes) -> dict:
    """STUB for the real image decoder (PIL/libvips are not installed).

    Deterministic fake: dimensions derived from the payload's md5 so tests
    and the oracle can check the plumbing. A real implementation returns
    ``PIL.Image.open(io.BytesIO(payload))`` metadata; raise instead if strict
    behavior is wanted:  ``raise NotImplementedError("image codec")``.
    """
    import hashlib

    h = int(hashlib.md5(payload).hexdigest()[:8], 16)
    return {
        "width": 64 + h % 512,
        "height": 64 + (h // 512) % 512,
        "n_frames": 1 + h % 4,
        "format": ("png", "jpeg", "webp", "gif")[h % 4],
    }


@lru_cache(maxsize=1)
def _pil_available() -> bool:
    import importlib.util

    return importlib.util.find_spec("PIL") is not None


def decode_image_real(payload: bytes) -> dict | None:
    """Real decoder (requires PIL). Returns None for payloads that are not
    decodable images; :func:`decode_image` then tries the header readers
    and the stub, so the synthetic testdata (text bytes, not images) keeps
    its oracle rows. Runs inside the executor's Arrow batch loop: one
    import per worker process, no per-row overhead beyond the decode
    itself."""
    import io

    from PIL import Image, UnidentifiedImageError

    try:
        with Image.open(io.BytesIO(payload)) as im:
            return {
                "width": im.width,
                "height": im.height,
                "n_frames": int(getattr(im, "n_frames", 1)),
                "format": (im.format or "unknown").lower(),
            }
    except (UnidentifiedImageError, OSError, ValueError):
        return None


def decode_image(payload: bytes) -> dict:
    """Codec slot-in point, tried in order: PIL (any format, when
    installed) → the PNG/JPEG/GIF/WebP header readers (true dimensions
    and frame count, no pixel decode) → the deterministic stub (the
    synthetic corpus's text-bytes payloads land here, keeping their
    oracle rows)."""
    if _pil_available():
        meta = decode_image_real(payload)
        if meta is not None:
            return meta
    meta = image_meta(payload)
    if meta is not None:
        return {k: meta[k] for k in ("width", "height", "n_frames", "format")}
    return decode_image_stub(payload)


def _per_row(out: pd.Series, fn) -> pd.Series:
    """``fn`` over each row's output tuple; a None tuple (a recognised
    image with no pixel decoder) gives None, which Arrow writes as NULL."""
    return out.map(lambda t: None if t is None else fn(t))


def _decode_image_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        metas = pdf["payload"].map(lambda b: decode_image(bytes(b)))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": metas.map(lambda m: m["width"]).astype("int64"),
                "height": metas.map(lambda m: m["height"]).astype("int64"),
                "n_frames": metas.map(lambda m: m["n_frames"]).astype("int64"),
                "format": metas.map(lambda m: m["format"]),
            }
        )


_MM02_DUCK = """
WITH h AS (
  SELECT doc_id, ('0x' || substr(md5(text), 1, 8))::BIGINT AS hv
  FROM documents WHERE doc_id % 25 = 0
)
SELECT doc_id,
  CAST(64 + hv % 512 AS BIGINT)          AS width,
  CAST(64 + (hv // 512) % 512 AS BIGINT) AS height,
  CAST(1 + hv % 4 AS BIGINT)             AS n_frames,
  (['png', 'jpeg', 'webp', 'gif'])[CAST(hv % 4 AS INT) + 1] AS format
FROM h
"""


@query("mm02_image_metadata", oracle=_MM02_DUCK, tags=("multimodal", "udf", "codec"))
def mm02_image_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image metadata extraction: binary payload → mapInPandas →
    (width, height, n_frames, format). A real image gets its true
    metadata (:func:`decode_image`: PIL, then the header readers, which
    give the true frame count of an animation); other bytes, including
    this synthetic corpus's UTF-8 text payloads, fall to the
    deterministic md5 stub the oracle pins, so Arrow batch shape, UDF
    signature and schema are verified end to end either way."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 25 == 0)
        .select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    )
    return docs.mapInPandas(_decode_image_batch, schema=_MM02_SCHEMA)


# ---------------------------------------------------------------------------
# mm03 — frame sampling (video-style payload → every k-th frame)
# ---------------------------------------------------------------------------

_MM03_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", LongType()),
        StructField("n_sampled", LongType()),
        StructField("sample_md5", StringType()),
    ]
)

_FRAME_BYTES = 16
_FRAME_STRIDE = 4  # keep every 4th frame


def sample_frames_stub(payload: bytes) -> tuple[int, int, bytes]:
    """STUB for a real frame sampler (ffmpeg/pyav are not installed).

    Treats the payload as a stream of fixed 16-byte "frames" and keeps every
    4th one — the deterministic stand-in for keyframe extraction. A real
    implementation decodes with ``av.open(io.BytesIO(payload))`` and yields
    the same (n_frames, n_sampled, sampled_bytes) contract."""
    frames = [
        payload[i : i + _FRAME_BYTES]
        for i in range(0, len(payload) - _FRAME_BYTES + 1, _FRAME_BYTES)
    ]
    sampled = frames[::_FRAME_STRIDE]
    return len(frames), len(sampled), b"".join(sampled)


def sample_frames(payload: bytes) -> tuple[int, int, bytes] | None:
    """Codec slot-in point for frame sampling. No frame decoder is
    installed, so a payload the image header readers recognise gets None
    (NULL outputs) rather than stub frames cut from its encoded bytes;
    any other payload goes to the deterministic 16-byte-frame stub (the
    synthetic corpus's text payloads land there, keeping their oracle
    rows). A video or animation decoder (pyav, PIL) slots in here with
    the same (n_frames, n_sampled, sampled_bytes) contract."""
    if image_meta(payload) is not None:
        return None
    return sample_frames_stub(payload)


def _sample_frames_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import hashlib

    for pdf in batches:
        out = pdf["payload"].map(lambda b: sample_frames(bytes(b)))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_frames": _per_row(out, lambda t: t[0]).astype("Int64"),
                "n_sampled": _per_row(out, lambda t: t[1]).astype("Int64"),
                "sample_md5": _per_row(out, lambda t: hashlib.md5(t[2]).hexdigest()),
            }
        )


# oracle recomputes the same sampling on the text payload with list ops
_MM03_DUCK = f"""
WITH f AS (
  SELECT doc_id, strlen(text) AS n,
    [substring(text, 1 + (i - 1) * {_FRAME_BYTES}, {_FRAME_BYTES})
     for i in generate_series(1, strlen(text) // {_FRAME_BYTES})] AS frames
  FROM documents WHERE doc_id % 25 = 0
), s AS (
  SELECT doc_id, len(frames) AS n_frames,
    [frames[i] for i in generate_series(1, len(frames), {_FRAME_STRIDE})] AS sampled
  FROM f
)
SELECT doc_id,
  CAST(n_frames AS BIGINT) AS n_frames,
  CAST(len(sampled) AS BIGINT) AS n_sampled,
  md5(array_to_string(sampled, '')) AS sample_md5
FROM s
"""


@query("mm03_frame_sample", oracle=_MM03_DUCK, tags=("multimodal", "video", "codec"))
def mm03_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: binary payload → mapInPandas → every 4th frame,
    fingerprinted. Non-video bytes fall to the deterministic stride stub
    the oracle pins; a recognised image gets NULL outputs (see
    :func:`sample_frames`). Arrow batch shape, stride arithmetic and
    byte-exact reassembly are verified."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 25 == 0)
        .select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    )
    return docs.mapInPandas(_sample_frames_batch, schema=_MM03_SCHEMA)


# ---------------------------------------------------------------------------
# mm04 — resize plumbing (decode dims → fit-in-box target → resampled bytes)
# ---------------------------------------------------------------------------

_MM04_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("src_w", LongType()),
        StructField("src_h", LongType()),
        StructField("dst_w", LongType()),
        StructField("dst_h", LongType()),
        StructField("n_bytes_out", LongType()),
        StructField("resized_md5", StringType()),
    ]
)

_RESIZE_BOX = 224  # fit-within target (the standard vision-model square)


def resize_stub(payload: bytes) -> tuple[int, int, int, int, bytes]:
    """STUB for a real resampler (PIL/cv2 are not installed): source
    dims come from :func:`decode_image_stub`; the target is integer
    fit-within-224 preserving aspect; the "resized" bytes are a stride
    decimation of the payload proportional to the area reduction — the
    deterministic stand-in for pixel resampling. A real implementation is
    ``PIL.Image.open(...).thumbnail((224, 224))`` with the same
    (src_w, src_h, dst_w, dst_h, bytes) contract."""
    meta = decode_image_stub(payload)
    w, h = meta["width"], meta["height"]
    m = max(w, h)
    if m > _RESIZE_BOX:
        dst_w, dst_h = (w * _RESIZE_BOX) // m, (h * _RESIZE_BOX) // m
    else:
        dst_w, dst_h = w, h
    stride = max(1, (w * h) // max(1, dst_w * dst_h))
    resized = payload[::stride]
    return w, h, dst_w, dst_h, resized


def resize_real(payload: bytes) -> tuple[int, int, int, int, bytes] | None:
    """Real fit-within-224 resample via PIL (same contract as
    :func:`resize_stub`). None when the payload is not a decodable image;
    :func:`resize_image` decides what such a payload gets."""
    import io

    from PIL import Image, UnidentifiedImageError

    try:
        with Image.open(io.BytesIO(payload)) as im:
            w, h = im.width, im.height
            im.thumbnail((_RESIZE_BOX, _RESIZE_BOX))
            buf = io.BytesIO()
            im.save(buf, format=im.format or "PNG")
            return w, h, im.width, im.height, buf.getvalue()
    except (UnidentifiedImageError, OSError, ValueError):
        return None


def resize_image(payload: bytes) -> tuple[int, int, int, int, bytes] | None:
    """Codec slot-in point: PIL when installed; otherwise a payload the
    image header readers recognise gets None (NULL outputs: there is no
    pixel resampler without PIL), and any other payload goes to the
    deterministic stub (see :func:`decode_image`)."""
    if _pil_available():
        out = resize_real(payload)
        if out is not None:
            return out
    if image_meta(payload) is not None:
        return None
    return resize_stub(payload)


def _resize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import hashlib

    for pdf in batches:
        out = pdf["payload"].map(lambda b: resize_image(bytes(b)))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "src_w": _per_row(out, lambda t: t[0]).astype("Int64"),
                "src_h": _per_row(out, lambda t: t[1]).astype("Int64"),
                "dst_w": _per_row(out, lambda t: t[2]).astype("Int64"),
                "dst_h": _per_row(out, lambda t: t[3]).astype("Int64"),
                "n_bytes_out": _per_row(out, lambda t: len(t[4])).astype("Int64"),
                "resized_md5": _per_row(out, lambda t: hashlib.md5(t[4]).hexdigest()),
            }
        )


# oracle: identical dims + stride-decimation arithmetic over the text bytes
_MM04_DUCK = f"""
WITH h AS (
  SELECT doc_id, text, ('0x' || substr(md5(text), 1, 8))::BIGINT AS hv
  FROM documents WHERE doc_id % 25 = 0
), dims AS (
  SELECT doc_id, text,
    64 + hv % 512 AS w,
    64 + (hv // 512) % 512 AS h
  FROM h
), fit AS (
  SELECT doc_id, text, w, h,
    CASE WHEN greatest(w, h) > {_RESIZE_BOX}
         THEN (w * {_RESIZE_BOX}) // greatest(w, h) ELSE w END AS dst_w,
    CASE WHEN greatest(w, h) > {_RESIZE_BOX}
         THEN (h * {_RESIZE_BOX}) // greatest(w, h) ELSE h END AS dst_h
  FROM dims
), resized AS (
  SELECT doc_id, w, h, dst_w, dst_h,
    array_to_string(
      [substring(text, i, 1)
       for i in generate_series(1, strlen(text),
                                greatest(1, (w * h) // greatest(1, dst_w * dst_h)))],
      '') AS rs
  FROM fit
)
SELECT doc_id,
  CAST(w AS BIGINT) AS src_w,
  CAST(h AS BIGINT) AS src_h,
  CAST(dst_w AS BIGINT) AS dst_w,
  CAST(dst_h AS BIGINT) AS dst_h,
  CAST(strlen(rs) AS BIGINT) AS n_bytes_out,
  md5(rs) AS resized_md5
FROM resized
"""


@query("mm04_image_resize", oracle=_MM04_DUCK, tags=("multimodal", "udf", "codec"))
def mm04_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize: binary payload → mapInPandas → fit-within-224 target
    dims + resampled bytes, fingerprinted. PIL resamples a real image
    when installed; without it a recognised image gets NULL outputs (see
    :func:`resize_image`). Other bytes fall to the deterministic stride
    stub the oracle pins, so Arrow batch shape, integer resize arithmetic
    and byte-exact output are oracle-verified."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 25 == 0)
        .select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    )
    return docs.mapInPandas(_resize_batch, schema=_MM04_SCHEMA)


# ---------------------------------------------------------------------------
# mm05 — perceptual-hash near-dup over binary payloads (pHash plumbing)
# ---------------------------------------------------------------------------

_MM05_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("phash", LongType()),
    ]
)


def _phash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: 'perceptual hash' per binary payload. The STUB
    decodes the payload as UTF-8 and computes the dd06 32-bit word simhash
    (bit-identical to the SQL formula, so the oracle can verify the whole
    Arrow round-trip); a real implementation computes dHash/pHash over
    decoded pixels here and the Spark-side banding/verify is unchanged."""
    import hashlib

    def simhash(b: bytes) -> int:
        words = [w for w in bytes(b).decode("utf-8").split(" ") if w != ""]
        hs = [int(hashlib.md5(w.encode()).hexdigest()[:8], 16) for w in words]
        n = len(hs)
        out = 0
        for j in range(32):
            if 2 * sum((h >> j) & 1 for h in hs) > n:
                out |= 1 << j
        return out

    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "phash": pdf["payload"].map(simhash).astype("int64"),
            }
        )


def _mm05_pairs_sql(intdiv: str, xor_expr: str, lead: str = "WITH", hashed_rel: str = "hashed") -> str:
    # 4 × 8-bit bands over the 32-bit hash: hamming-close hashes agree on
    # at least one band (guaranteed for distance <= 3), so the bucket join
    # finds every pair the verify step would keep. ``lead`` lets the block
    # open a fresh WITH (Spark, over the hashed DataFrame) or continue the
    # oracle's existing WITH chain (",").
    return f"""
{lead} bands AS (
  SELECT doc_id, phash, b,
         (phash {intdiv} CAST(pow(256, b) AS BIGINT)) % 256 AS bv
  FROM {hashed_rel} CROSS JOIN (VALUES (0), (1), (2), (3)) t(b)
), cand AS (
  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db, x.phash AS ha, y.phash AS hb
  FROM bands x JOIN bands y ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id
)
SELECT da, db, CAST(bit_count({xor_expr}) AS BIGINT) AS hamming
FROM cand
WHERE bit_count({xor_expr}) <= 3
"""


_MM05_DUCK = (
    """
WITH hashed AS (
  SELECT doc_id,
    CAST(list_sum([CASE WHEN 2 * length(list_filter(hs, h -> (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1))
                         > length(hs)
                   THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END
                   for j in generate_series(0, 31)]) AS BIGINT) AS phash
  FROM (
    SELECT doc_id,
      list_transform(list_filter(string_split(text, ' '), w -> w <> ''),
                     w -> (('0x' || substr(md5(w), 1, 8))::BIGINT)) AS hs
    FROM documents
  ) t
)
"""
    + _mm05_pairs_sql("//", "xor(ha, hb)", lead=",")
)


@query("mm05_phash_neardup", oracle=_MM05_DUCK, tags=("multimodal", "dedup", "udf"))
def mm05_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection over binary payloads — the
    image-dedup composition: an Arrow-batched Pandas UDF extracts a
    compact hash per payload (STUB: the dd06 simhash of the decoded
    bytes; a real deployment computes pHash/dHash over pixels), then
    pure-Spark banding buckets the hashes and a ``bit_count(xor)``
    hamming check keeps pairs within distance 3.

    Scale shape: the UDF is the only Python (one pass, batch-bounded
    memory); banding is the dd04 LSH shape — one shuffle on (band,
    band-value), candidates only, never all-pairs; for 32-bit hashes and
    distance ≤ 3, 4 × 8-bit bands guarantee ≥ 1 agreeing band
    (pigeonhole), so the bucket join loses no true pair. The oracle
    recomputes the identical hash in SQL, pinning the UDF's Arrow
    round-trip bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    hashed = docs.mapInPandas(_phash_batch, schema=_MM05_SCHEMA)
    return spark.sql(
        _mm05_pairs_sql("div", "ha ^ hb", hashed_rel="{hashed}"), hashed=hashed
    )
