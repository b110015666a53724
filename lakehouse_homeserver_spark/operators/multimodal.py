"""Multimodal columns — SURVEY.md §2.K5.

Design: media (image/audio/video) lives in the lakehouse as an opaque
``binary`` payload column plus a typed metadata struct — exactly how
parquet stores it natively (BinaryType + StructType, no special
format needed). Decode / feature-extraction kernels are per-row
functions run through ``map_rows`` (``mapInArrow``) over the binary
column: executors stream Arrow batches of payloads through the kernel
without ever materializing the corpus in one place. pandas is used
only where a kernel needs grouped semantics (``applyInPandas``).

The media codec libraries (PIL/librosa/av) are NOT in this
environment. The codecs this module needs are implemented from their
public specs instead: PPM/P6 (header parse + reshape), PNG (W3C —
zlib inflate, CRC chunks, all five scanline filters), baseline JPEG
(ITU-T T.81 — Huffman, DCT, 4:2:0; see functions/jpeg.py), WAV/RIFF
and u8 PCM. Formats beyond those (GIF/WebP/TIFF, MP3/AAC, video
codecs) stay behind loud NotImplementedError seams. The generic
feature kernel (`decode_features_row`) additionally keeps a
deterministic byte-level fallback so the PLUMBING certificate
(schema, partitioning, Arrow batch shape) is payload-agnostic and
oracle-checkable: the DuckDB oracle reproduces the same features
from the same bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sources import load_table as T

from .common import chain, make_registry, map_rows, pin

QUERIES, ORACLES, query = make_registry()


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the multimodal table from `documents`: binary payload
    (utf-8 encoded text standing in for image bytes) + metadata struct.
    In production this column arrives from the ingestion layer as real
    media bytes; everything downstream is payload-agnostic.
    """
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("n_chars").alias("declared_size"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload_bytes", LongType()),
        StructField("first_byte", LongType()),
        StructField("byte_sum_head16", LongType()),
    ]
)


PAYLOAD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def _decode_image_real(payload: bytes):
    """Format-sniffing image decode over the REAL from-spec codecs:
    PNG (stdlib zlib + numpy unfilter) and baseline JPEG
    (functions/jpeg.py — Huffman + IDCT). Formats with no decoder in
    this environment (GIF, WebP, TIFF, ...) stay behind the loud
    NotImplementedError seam, named — never a silent fake."""
    b = bytes(payload)
    if b[:8] == PNG_SIG:
        return png_decode(b)
    if b[:2] == b"\xff\xd8":
        from ..functions.jpeg import jpeg_decode_baseline

        return jpeg_decode_baseline(b)
    sniff = b[:4].hex()
    raise NotImplementedError(
        f"no decoder for image format (magic {sniff}); PNG and "
        "baseline JPEG are implemented from spec, other codecs need "
        "a library absent from this environment"
    )


def decode_features_row(doc_id, b):
    """Feature extraction over one binary payload: the deterministic
    fallback computes byte-level features (length, first byte, sum of
    the first 16 bytes) in place of codec output.

    NULL payload -> all-NULL feature row; empty payload -> (0, 0,
    NULL). Both mirror the oracle exactly: DuckDB
    ascii(substring('',1,1)) = 0, and SUM over an empty series is
    NULL, not 0.
    """
    if b is None:
        return [(doc_id, None, None, None)]
    if not b:
        return [(doc_id, 0, 0, None)]
    return [(doc_id, len(b), b[0], sum(b[:16]))]


@query(
    "k5_multimodal_features",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS payload_bytes,
           ascii(substring(text, 1, 1)) AS first_byte,
           CAST((SELECT SUM(ascii(substring(text, g.i, 1)))
                 FROM UNNEST(generate_series(1, LEAST(octet_length(encode(text)), 16)))
                      AS g(i)) AS BIGINT) AS byte_sum_head16
    FROM documents
    """,
)
def k5_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction via `map_rows` (SURVEY K5).
    The payload crosses to Python once, as Arrow batches, on the
    executors — no driver involvement, no per-row pickling.
    (Oracle works because fixture text is ASCII: byte==char.)
    """
    media = media_table(spark, sf_dir)
    return map_rows(
        media.select("doc_id", "payload"), decode_features_row, DECODE_SCHEMA
    )


@query(
    "k5_multimodal_meta",
    oracle="""
    SELECT source AS origin,
           COUNT(*) AS n_assets,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes,
           CAST(SUM(n_chars) AS BIGINT) AS declared_total
    FROM documents GROUP BY source
    """,
)
def k5_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-struct rollup (SURVEY K5): storage accounting over the
    typed metadata without touching payload bytes — column pruning
    means the binary column is never read from parquet for this query.
    """
    media = media_table(spark, sf_dir)
    return media.groupBy(F.col("meta.origin").alias("origin")).agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum(F.length("payload")).cast("bigint").alias("total_bytes"),
        F.max(F.length("payload")).cast("bigint").alias("max_bytes"),
        F.sum("meta.declared_size").cast("bigint").alias("declared_total"),
    )


@query(
    "k5_frame_sample",
    oracle="""
    WITH media AS (
      SELECT doc_id, lower(hex(encode(text))) AS phex FROM documents
    ), frames AS (
      SELECT doc_id, phex,
             UNNEST(generate_series(
                 0,
                 greatest(CAST(length(phex) // 32 AS BIGINT) - 1, 0),
                 7)) AS frame_no
      FROM media
    )
    SELECT doc_id,
           CAST(frame_no AS INTEGER) AS frame_no,
           frame_no * 16 AS byte_offset,
           md5(substring(phex, CAST(frame_no * 32 + 1 AS INTEGER), 32))
             AS frame_digest
    FROM frames
    """,
)
def k5_frame_sample(spark: SparkSession, sf_dir: str, every: int = 7) -> DataFrame:
    """Frame-sampling plumbing (SURVEY K5): treat each payload as a
    virtual frame sequence (1 frame per 16-byte chunk in the stub) and
    emit every Nth frame's offset + a frame digest. The stub stands in
    for codec-dependent frame extraction; the explode/partition shape
    is what a video pipeline at scale runs.

    The digest is md5 over the chunk's LOWERCASE-HEX encoding: byte
    offsets stay exact for multi-byte text (2 hex chars per payload
    byte) and DuckDB v1.0 can reproduce it (`hex(BLOB)` exists there,
    `md5(BLOB)`/blob slicing don't). The hex column is materialized
    once before the explode — the per-gram/per-frame lambda CSE trap
    applies here too.
    """
    media = media_table(spark, sf_dir).select(
        "doc_id", F.lower(F.hex("payload")).alias("phex")
    )
    n_frames = F.floor(F.length("phex") / 32).cast("int")
    frame_idx = F.sequence(
        F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every)
    )
    return (
        media.select(
            "doc_id",
            "phex",
            F.explode(frame_idx).alias("frame_no"),
        )
        .select(
            "doc_id",
            "frame_no",
            (F.col("frame_no") * 16).cast("bigint").alias("byte_offset"),
            F.md5(
                F.expr("substring(phex, frame_no * 32 + 1, 32)")
            ).alias("frame_digest"),
        )
    )


RESIZE_REAL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("thumb_hex", StringType()),
    ]
)

RESIZE_FACTOR = 2  # 8x8 source -> 4x4 thumbnail (exact 2x2 box)


def resize_png_row(doc_id, p):
    """REAL resize stage: per payload, full PNG decode
    (`png_decode_rgb`: CRC walk + inflate + 5-filter unapply), exact
    2x2 integer box downsample (floor of the 4-pixel sum / 4 — no
    float, bit-identical in any engine), re-encode through
    `png_encode_rgb`, then DECODE THE THUMBNAIL AGAIN and emit its
    raw pixel bytes as lowercase hex. Emitting the re-decoded (not
    the pre-encode) pixels makes the oracle hash certify the
    encode->decode round trip THROUGH the resize consumer, not just
    the arithmetic. NULL payload -> all-NULL row (matching the
    oracle's NULL-body propagation)."""
    import numpy as np

    if p is None:
        return [(doc_id, None, None, None)]
    px = png_decode_rgb(p).astype(np.int64)
    h, w, _ = px.shape
    if h % RESIZE_FACTOR or w % RESIZE_FACTOR:
        raise ValueError(
            f"resize expects dims divisible by {RESIZE_FACTOR}, "
            f"got {w}x{h}"
        )
    th, tw = h // RESIZE_FACTOR, w // RESIZE_FACTOR
    small = (
        px.reshape(th, RESIZE_FACTOR, tw, RESIZE_FACTOR, 3)
        .sum(axis=(1, 3))
        // (RESIZE_FACTOR * RESIZE_FACTOR)
    ).astype(np.uint8)
    back = png_decode_rgb(png_encode_rgb(small))
    return [(doc_id, tw, th, bytes(back.reshape(-1)).hex())]


@query(
    "k5_resize_real",
    oracle="""
    WITH img AS (
      SELECT doc_id, rpad(text || ' x', 192, text || ' x') AS body
      FROM documents
    )
    SELECT doc_id,
           CAST(CASE WHEN body IS NULL THEN NULL ELSE 4 END
                AS BIGINT) AS width,
           CAST(CASE WHEN body IS NULL THEN NULL ELSE 4 END
                AS BIGINT) AS height,
           (SELECT string_agg(lpad(lower(hex(
                ( ascii(substring(body, CAST((i // 12) * 48
                    + ((i % 12) // 3) * 6 + (i % 3) + 1 AS INTEGER), 1))
                + ascii(substring(body, CAST((i // 12) * 48
                    + ((i % 12) // 3) * 6 + (i % 3) + 4 AS INTEGER), 1))
                + ascii(substring(body, CAST((i // 12) * 48
                    + ((i % 12) // 3) * 6 + (i % 3) + 25 AS INTEGER), 1))
                + ascii(substring(body, CAST((i // 12) * 48
                    + ((i % 12) // 3) * 6 + (i % 3) + 28 AS INTEGER), 1))
                ) // 4)), 2, '0'), '' ORDER BY i)
            FROM UNNEST(range(48)) AS t(i)) AS thumb_hex
    FROM img
    """,
)
def k5_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize over compressed payloads (SURVEY K5): each
    row's 8x8 RGB pixels (the same 192 text-derived bytes as the
    PNG/PPM certs) are encoded into a genuine PNG, then the resize
    stage decodes it,
    box-downsamples 2x2 with exact integer floor arithmetic, and
    re-encodes a real 4x4 PNG thumbnail — decode -> resample ->
    encode, the actual work of a 100 TB thumbnail job. The emitted
    pixels are read back from the RE-ENCODED thumbnail, so the DuckDB
    oracle (recomputing the 48 thumbnail bytes straight from the text
    via the same floor((a+b+c+d)/4) box formula, never parsing PNG)
    hash-certifies the full decode/resample/encode/decode chain
    bit-for-bit.

    Output size is bounded by construction (4x4x3 = 48 pixel bytes +
    fixed PNG framing) — the property that keeps a 100 TB resize
    job's write volume predictable. Scale shape: encode and resize
    are one map-only `map_rows` pass (`chain`) fused into the scan
    stage; the payload never shuffles, per-image work is O(pixels).
    """
    d = T(spark, sf_dir, "documents")
    body = F.expr("rpad(text || ' x', 192, text || ' x')")
    src = d.select("doc_id", F.encode(body, "UTF-8").alias("pixels"))
    return map_rows(src, chain(png_encode_row, resize_png_row), RESIZE_REAL_SCHEMA)


# ---------------------------------------------------------------------------
# K5 — REAL decode path: PPM (P6), pure numpy, no codec library needed
# ---------------------------------------------------------------------------

PPM_W = 8
PPM_H = 8
PPM_HEADER = b"P6\n8 8\n255\n"

PPM_DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("mean_r", DoubleType()),
        StructField("mean_g", DoubleType()),
        StructField("mean_b", DoubleType()),
    ]
)


def rgb_stats_row(doc_id, px) -> tuple:
    """The PPM_DECODE_SCHEMA row of a decoded (h, w, 3) image: its
    geometry and per-channel means (the row every RGB decoder emits).
    A zero-pixel image has NULL means, not NaN."""
    h, w, _ = px.shape
    if not px.size:
        return (doc_id, w, h, None, None, None)
    return (
        doc_id,
        w,
        h,
        float(px[:, :, 0].mean()),
        float(px[:, :, 1].mean()),
        float(px[:, :, 2].mean()),
    )


def ppm_payload_col():
    """P6 payload assembled from the row's text: real PPM header +
    exactly w*h*3 pixel bytes (the text cycled via rpad). This is the
    stand-in for media bytes arriving from ingestion; everything
    DOWNSTREAM of this column treats it as an opaque image file."""
    body = F.expr("rpad(text || ' x', 192, text || ' x')")
    return F.concat(F.lit(PPM_HEADER), F.encode(body, "UTF-8"))


def decode_ppm_row(doc_id, b):
    """REAL image decode (not a stub): parses the P6 header (magic,
    dimensions, maxval), validates payload length, reinterprets the
    pixel buffer as a (h, w, 3) uint8 array with numpy, and emits
    per-channel means — the same steps PIL/imageio would perform for
    an uncompressed format, with zero external codec dependency.
    PNG has a real stdlib-zlib decode (png_decode_rgb) and baseline
    JPEG a real Huffman+IDCT decode (functions/jpeg.py); only
    out-of-scope formats keep the loud NotImplementedError path in
    _decode_image_real.

    A NULL payload propagates a NULL feature row instead of crashing
    the stage: the payload synth (text-derived) yields NULL for NULL
    text, and a single NULL row must not kill a 100 TB decode pass."""
    import numpy as np

    if b is None:
        return [(doc_id, None, None, None, None, None)]
    if not b.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # header = three whitespace-delimited fields after the magic
    parts = b.split(b"\n", 3)
    w, h = (int(x) for x in parts[1].split())
    maxval = int(parts[2])
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    px = np.frombuffer(parts[3][: w * h * 3], dtype=np.uint8).reshape(h, w, 3)
    return [rgb_stats_row(doc_id, px)]


@query(
    "k5_ppm_decode",
    oracle="""
    WITH img AS (
      SELECT doc_id, rpad(text || ' x', 192, text || ' x') AS body
      FROM documents
    )
    SELECT doc_id,
           CAST(8 AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height,
           (SELECT AVG(ascii(substring(body, 1 + 3 * i, 1)))
            FROM UNNEST(range(64)) AS t(i)) AS mean_r,
           (SELECT AVG(ascii(substring(body, 2 + 3 * i, 1)))
            FROM UNNEST(range(64)) AS t(i)) AS mean_g,
           (SELECT AVG(ascii(substring(body, 3 + 3 * i, 1)))
            FROM UNNEST(range(64)) AS t(i)) AS mean_b
    FROM img
    """,
)
def k5_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL image decode over a binary column: each row
    carries a complete 8x8 P6 PPM file (header + 192 pixel bytes,
    assembled from the doc's text as the ingestion stand-in), and the
    Arrow-batched decoder actually parses the format — magic check,
    dimension parse, buffer reshape via numpy — then emits per-channel
    means. 8x8 makes each mean an exact sum/64, so doubles cannot
    drift and the DuckDB oracle (recomputing the channel means from
    the same cycled text bytes via ascii(substring(...))) hash-matches
    bit-for-bit. The decode step itself is real (compressed formats
    too — PNG and baseline JPEG; only out-of-scope codecs keep the
    loud seam).

    Scale shape: one map-only `map_rows` pass, payload never
    shuffled; at 100 TB the decode parallelism is the scan
    parallelism.
    """
    d = T(spark, sf_dir, "documents")
    media = d.select("doc_id", ppm_payload_col().alias("payload"))
    return map_rows(media, decode_ppm_row, PPM_DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# K5 — REAL compressed-codec decode: PNG (W3C spec), stdlib zlib + numpy
# ---------------------------------------------------------------------------

PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_BPP = 3  # the RGB fast path the k5 queries use (color type 2)
# 8-bit bytes-per-pixel by IHDR color type, palette included: grayscale, truecolor, INDEXED (1 index byte/px, expanded
# through PLTE to RGB on output), truecolor+alpha. Gray+alpha (4)
# stays a loud failure — no corpus here exercises it and a silent
# partial decode would be worse than the seam.
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 6: 4}


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def png_encode(px) -> bytes:
    """Real PNG encode per the W3C spec (no codec library): 8-bit
    non-interlaced, one IDAT with zlib-compressed scanlines. The
    channel count picks the IHDR color type — (h, w) or (h, w, 1) ->
    grayscale 0, (h, w, 3) -> truecolor 2, (h, w, 4) -> RGBA 6.
    Grayscale is canonically 2D: a (h, w, 1) input is NORMALIZED to
    (h, w) and round-trips back as (h, w) from png_decode (the file
    format cannot record the trailing singleton axis). The
    per-scanline filter type CYCLES through all five spec filters
    (None/Sub/Up/Average/Paeth, `y % 5`) so any decoder of these
    payloads must implement the complete filter set — the encoder
    exists to manufacture REAL compressed payloads for the decode
    certificate, not to be a production writer."""
    import struct
    import zlib

    import numpy as np

    if px.ndim == 2:
        px = px[:, :, None]
    h, w, ch = px.shape
    color = {1: 0, 3: 2, 4: 6}.get(ch)
    if color is None:
        raise ValueError(f"unsupported channel count {ch}")
    bpp = ch
    stride = w * bpp
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    zeros = np.zeros(bpp, dtype=np.int64)
    for y in range(h):
        line = px[y].reshape(-1).astype(np.int64)
        left = np.concatenate([zeros, line[:-bpp]])
        ft = y % 5
        if ft == 0:
            filt = line
        elif ft == 1:  # Sub
            filt = (line - left) % 256
        elif ft == 2:  # Up
            filt = (line - prev) % 256
        elif ft == 3:  # Average — spec: floor((left + up) / 2)
            filt = (line - (left + prev) // 2) % 256
        else:  # Paeth
            upleft = np.concatenate([zeros, prev[:-bpp]])
            p = left + prev - upleft
            pa = np.abs(p - left)
            pb = np.abs(p - prev)
            pc = np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc),
                left,
                np.where(pb <= pc, prev, upleft),
            )
            filt = (line - pred) % 256
        raw.append(ft)
        raw.extend(filt.astype(np.uint8).tobytes())
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def png_encode_rgb(px) -> bytes:
    """The RGB-contract encode door (mirrors png_decode_rgb): the k5
    pipelines promise 3-channel payloads, so a gray/RGBA array must
    fail LOUDLY at the WRITE site, not as a shape surprise in a
    different Spark task on the read side."""
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError(
            "expected (h, w, 3) RGB pixels, got shape "
            f"{tuple(px.shape)}"
        )
    return png_encode(px)


def png_decode(b: bytes):
    """Real PNG decode (the 8-bit gray/RGB/RGBA and palette color
    types): signature check, chunk walk with CRC32 verification
    on EVERY chunk, IHDR parse, multi-IDAT concat, zlib inflate, then
    per-scanline un-filtering of all five spec filter types (Paeth
    included) at the color type's byte-per-pixel offset. Returns a
    uint8 array — (h, w) for grayscale, (h, w, 3) for RGB AND for
    8-bit palette images (indices expanded through a validated
    PLTE; out-of-range indices and missing PLTE raise), (h, w, 4)
    RGBA. Every malformation raises ValueError LOUDLY — a corrupt
    payload must never decode to silent garbage. 16-bit, gray+alpha,
    interlaced, and tRNS-transparent variants raise with the variant
    named (no corpus here exercises them; a silent partial decode
    would be worse than the seam)."""
    import struct
    import zlib

    import numpy as np

    b = bytes(b)
    if b[:8] != PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    w = h = color = None
    palette = None
    idat = bytearray()
    saw_iend = False
    while pos < len(b):
        if pos + 8 > len(b):
            raise ValueError("truncated PNG: chunk header")
        (length,) = struct.unpack(">I", b[pos : pos + 4])
        ctype = b[pos + 4 : pos + 8]
        if pos + 12 + length > len(b):
            raise ValueError(f"truncated PNG: {ctype!r} chunk data")
        data = b[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", b[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG CRC mismatch in {ctype!r} chunk")
        if ctype == b"IHDR":
            if w is not None:
                # A CRC-valid second IHDR would silently
                # rewrite dims/bpp mid-file — spec says exactly one.
                raise ValueError("PNG with duplicate IHDR chunk")
            if len(data) != 13:
                raise ValueError(
                    f"PNG IHDR must be 13 bytes, got {len(data)}"
                )
            w, h, depth, color, comp, filt, inter = struct.unpack(
                ">IIBBBBB", data
            )
            if (
                depth != 8
                or color not in _PNG_CHANNELS
                or (comp, filt, inter) != (0, 0, 0)
            ):
                raise ValueError(
                    "unsupported PNG variant "
                    f"(depth={depth} color={color} comp={comp} "
                    f"filter={filt} interlace={inter}); this decoder "
                    "covers 8-bit gray/RGB/palette/RGBA non-interlaced"
                )
            bpp = _PNG_CHANNELS[color]
        elif ctype == b"PLTE":
            if w is None:
                raise ValueError("PNG PLTE chunk before IHDR")
            if idat:
                # spec chunk order: PLTE precedes IDAT (same posture
                # as the IDAT-before-IHDR check)
                raise ValueError("PNG PLTE chunk after IDAT")
            if palette is not None:
                raise ValueError("PNG with duplicate PLTE chunk")
            if len(data) == 0 or len(data) % 3 or len(data) > 768:
                raise ValueError(
                    f"PNG PLTE length {len(data)} is not a valid "
                    "palette (1-256 RGB triples)"
                )
            palette = data
        elif ctype == b"tRNS":
            # palette transparency would silently change pixel
            # SEMANTICS if ignored — loud seam, named
            raise ValueError(
                "unsupported PNG variant: tRNS palette transparency"
            )
        elif ctype == b"IDAT":
            if w is None:
                # IDAT before IHDR is a chunk-order
                # malformation the CRC walk alone can't see.
                raise ValueError("PNG IDAT chunk before IHDR")
            idat.extend(data)
        elif ctype == b"IEND":
            saw_iend = True
            break
        pos += 12 + length
    if w is None:
        raise ValueError("PNG missing IHDR")
    if not idat:
        raise ValueError("PNG missing IDAT")
    if not saw_iend:
        raise ValueError("truncated PNG: no IEND")
    stride = w * bpp
    want = h * (1 + stride)
    # Bounded inflate: an unbounded zlib.decompress lets
    # a tiny malicious IDAT (~1:1000 inflation) allocate arbitrary
    # memory before the size check runs. Cap the output at the exact
    # post-filter size the IHDR promises (+1 byte so an oversized
    # stream is DETECTED as a mismatch rather than silently clipped).
    try:
        dec = zlib.decompressobj()
        raw = dec.decompress(bytes(idat), want + 1)
    except zlib.error as exc:
        raise ValueError(f"PNG IDAT inflate failed: {exc}") from exc
    if len(raw) != want:
        raise ValueError(
            f"PNG inflated size mismatch: got "
            f"{'>' if len(raw) > want else ''}{len(raw)}, want {want}"
        )
    if not dec.eof:
        # exactly `want` bytes out but the stream never reached its
        # zlib trailer — a truncated stream the size check can't see
        raise ValueError("PNG IDAT inflate failed: incomplete stream")
    out = np.zeros((h, stride), dtype=np.int64)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        ft = raw[y * (1 + stride)]
        line = np.frombuffer(
            raw[y * (1 + stride) + 1 : (y + 1) * (1 + stride)],
            dtype=np.uint8,
        ).astype(np.int64)
        if ft == 0:
            rec = line
        elif ft == 2:  # Up — vectorizable (no intra-line dependency)
            rec = (line + prev) % 256
        elif ft in (1, 3, 4):
            # Sub/Average/Paeth reconstruct left-to-right (each byte
            # needs the RECONSTRUCTED left neighbor) — inherently
            # sequential within a scanline, per the spec.
            rec = np.empty(stride, dtype=np.int64)
            for i in range(stride):
                left = rec[i - bpp] if i >= bpp else 0
                up = prev[i]
                upleft = prev[i - bpp] if i >= bpp else 0
                if ft == 1:
                    pred = left
                elif ft == 3:
                    pred = (left + up) // 2
                else:
                    p = left + up - upleft
                    pa = abs(p - left)
                    pb = abs(p - up)
                    pc = abs(p - upleft)
                    pred = (
                        left
                        if (pa <= pb and pa <= pc)
                        else (up if pb <= pc else upleft)
                    )
                rec[i] = (line[i] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[y] = rec
        prev = rec
    px = out.reshape(h, w, bpp).astype(np.uint8)
    if color == 3:
        # indexed: expand 1-byte indices through PLTE to (h, w, 3)
        if palette is None:
            raise ValueError("PNG palette image missing PLTE chunk")
        pal = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError(
                f"PNG palette index {int(idx.max())} out of range "
                f"for {len(pal)}-entry PLTE"
            )
        return pal[idx]
    return px[:, :, 0] if bpp == 1 else px


def png_decode_rgb(b: bytes):
    """The 3-channel door the k5 query kernels bind to: full
    `png_decode`, then an RGB shape assertion so a gray/RGBA payload
    in an RGB-contract pipeline fails loudly instead of reshaping
    into garbage features."""
    px = png_decode(b)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError(
            "expected an RGB PNG, decoded "
            f"{px.shape[2] if px.ndim == 3 else 1} channel(s)"
        )
    return px


def png_encode_row(doc_id, px):
    """Ingestion stand-in: pixels (text-derived, 8x8 RGB — same byte
    derivation as the PPM cert) -> a REAL zlib-compressed PNG file
    per row. NULL pixels propagate a NULL payload."""
    import numpy as np

    if px is None:
        return [(doc_id, None)]
    img = np.frombuffer(px, dtype=np.uint8).reshape(PPM_H, PPM_W, _PNG_BPP)
    return [(doc_id, png_encode_rgb(img))]


def png_decode_row(doc_id, p):
    """REAL compressed-image decode: full PNG parse (CRC-verified
    chunks, inflate, 5-filter un-filtering) per payload, then
    per-channel means. Mirrors decode_ppm_row's NULL contract."""
    if p is None:
        return [(doc_id, None, None, None, None, None)]
    return [rgb_stats_row(doc_id, png_decode_rgb(p))]


@query(
    "k5_png_decode",
    oracle="""
    WITH img AS (
      SELECT doc_id, rpad(text || ' x', 192, text || ' x') AS body
      FROM documents
    )
    SELECT doc_id,
           CAST(8 AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height,
           (SELECT AVG(ascii(substring(body, 1 + 3 * i, 1)))
            FROM UNNEST(range(64)) AS t(i)) AS mean_r,
           (SELECT AVG(ascii(substring(body, 2 + 3 * i, 1)))
            FROM UNNEST(range(64)) AS t(i)) AS mean_g,
           (SELECT AVG(ascii(substring(body, 3 + 3 * i, 1)))
            FROM UNNEST(range(64)) AS t(i)) AS mean_b
    FROM img
    """,
)
def k5_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL compressed-image decode over a binary column
    (a real decode certificate, not a stand-in): each row's pixels
    (8x8 RGB derived from the doc's text, the same 192 bytes the PPM
    cert uses) are encoded into a genuine PNG file —
    zlib-compressed IDAT, CRC'd chunks, per-scanline filters cycling
    ALL FIVE spec types — and the Arrow-batched decoder then actually
    decodes it: chunk walk + CRC verify, inflate, un-filter
    (Paeth included), reshape, per-channel means. The DuckDB oracle
    recomputes the means straight from the text bytes — it never
    parses PNG — so a hash match certifies the full compress/filter/
    decode round trip bit-for-bit. 8x8 keeps each mean an exact
    sum/64 (no float drift).

    Scale shape: encode stand-in and decode are one map-only
    `map_rows` pass (`chain`) fused into the scan stage — payload
    never shuffles; at 100 TB decode parallelism is scan parallelism,
    per-image work is O(pixels). Baseline JPEG gained its own
    from-spec decode certificate (k5_jpeg_decode); neither compressed
    format is a seam anymore.
    """
    d = T(spark, sf_dir, "documents")
    body = F.expr("rpad(text || ' x', 192, text || ' x')")
    src = d.select("doc_id", F.encode(body, "UTF-8").alias("pixels"))
    return map_rows(src, chain(png_encode_row, png_decode_row), PPM_DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# K5 — audio: real 8-bit-PCM decode + frame-level features
# ---------------------------------------------------------------------------

PCM_FRAME = 256   # samples per analysis frame
PCM_HOP = 128     # hop size (50 % overlap)

PCM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("sum_amp", LongType()),
        StructField("rms", DoubleType()),
        StructField("mean_amp", DoubleType()),
    ]
)


def _r6(v: float) -> float:
    """HALF_UP at 6 dp to match DuckDB/Spark ROUND — python round()
    is banker's and disagrees exactly at the boundary, which sum/256
    (a terminating binary fraction) hits routinely."""
    import math

    return math.floor(v * 1e6 + 0.5) / 1e6


def pcm_frame_rows(doc_id, payload):
    """REAL audio decode: interpret the binary payload as unsigned
    8-bit PCM (an actual WAV sample format — no codec library
    needed), window into overlapping frames, and emit per-frame
    amplitude features. One input row fans out to n_frames output
    rows — the contract a frame-level audio pipeline (VAD, loudness
    gating) needs. A NULL payload emits no frames — the oracle's
    WHERE nb >= FRAME excludes NULL lengths the same way.

    Numeric contract: per-frame sums are int64 over u8 samples —
    EXACT and order-independent — so rms/mean are single IEEE ops on
    identical operands in any engine; no float-reduction ordering
    anywhere.
    """
    import numpy as np

    if payload is None:
        return
    x = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
    n_frames = (len(x) - PCM_FRAME) // PCM_HOP + 1 if len(x) >= PCM_FRAME else 0
    for fi in range(n_frames):
        fr = x[fi * PCM_HOP : fi * PCM_HOP + PCM_FRAME]
        s = int(fr.sum())
        ssq = int((fr * fr).sum())
        yield (
            doc_id,
            fi,
            s,
            _r6((ssq / PCM_FRAME) ** 0.5),
            _r6(s / PCM_FRAME),
        )


@query(
    "k5_pcm_frames",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, text, octet_length(encode(text)) AS nb
      FROM documents
    ),
    fr AS (
      SELECT doc_id, text,
             unnest(range((nb - {PCM_FRAME}) // {PCM_HOP} + 1)) AS frame_idx
      FROM docs WHERE nb >= {PCM_FRAME}
    )
    SELECT doc_id, frame_idx,
           CAST(list_sum(list_transform(range({PCM_FRAME}),
             k -> CAST(ascii(substring(text,
                    CAST(frame_idx * {PCM_HOP} + k + 1 AS INTEGER), 1))
                  AS BIGINT))) AS BIGINT) AS sum_amp,
           ROUND(sqrt(CAST(list_sum(list_transform(range({PCM_FRAME}),
             k -> CAST(ascii(substring(text,
                    CAST(frame_idx * {PCM_HOP} + k + 1 AS INTEGER), 1))
                  AS BIGINT)
                * CAST(ascii(substring(text,
                    CAST(frame_idx * {PCM_HOP} + k + 1 AS INTEGER), 1))
                  AS BIGINT))) AS DOUBLE) / {PCM_FRAME}), 6) AS rms,
           ROUND(CAST(list_sum(list_transform(range({PCM_FRAME}),
             k -> CAST(ascii(substring(text,
                    CAST(frame_idx * {PCM_HOP} + k + 1 AS INTEGER), 1))
                  AS BIGINT))) AS DOUBLE) / {PCM_FRAME}, 6) AS mean_amp
    FROM fr
    """,
)
def k5_pcm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio frame features over the multimodal binary column (SURVEY
    K5 audio rung): REAL unsigned-8-bit-PCM decode (numpy frombuffer
    — u8 PCM is an actual WAV encoding, so unlike the compressed-
    codec stub this path exercises true sample decode), 256-sample
    frames at 50 % hop, per-frame sum/RMS/mean amplitude — the
    windowing every VAD / loudness-gate / feature-extract audio
    pipeline starts with.

    Plan shape: map-only `map_rows` fan-out (1 payload row →
    n_frames rows), Arrow-batched, no shuffle; at 100 TB the frame
    explosion happens executor-side and never lands in an exchange.
    The payload bytes here are the utf-8 document text (the fixture's
    stand-in media, ASCII so byte==char — asserted by the oracle
    deriving identical frames from the text column); real waveform
    payloads flow through the identical plumbing.
    """
    m = media_table(spark, sf_dir)
    return map_rows(m.select("doc_id", "payload"), pcm_frame_rows, PCM_SCHEMA)


# ---------------------------------------------------------------------------
# K5 — WAV (RIFF) container round-trip: real chunk-walking parse
# ---------------------------------------------------------------------------

WAV_RATE = 8000
WAV_CHANNELS = 1
WAV_BITS = 8


def _build_wav(pcm: bytes, fmt_tag: int = 1) -> bytes:
    """A real RIFF/WAVE container around 8-bit sample data: fmt
    chunk, a LIST (INFO) chunk, then data. The LIST chunk exists so
    the parser must genuinely WALK chunks — a fixed-44-byte-offset
    'parser' would read garbage. fmt_tag 1 = u8 PCM (the original
    cert); 6/7 = G.711 A-law/mu-law code streams (the
    container-dispatch cert, k5_wav_g711_decode)."""
    import struct

    fmt = struct.pack(
        "<4sIHHIIHH",
        b"fmt ",
        16,
        fmt_tag,
        WAV_CHANNELS,
        WAV_RATE,
        WAV_RATE * WAV_CHANNELS * WAV_BITS // 8,
        WAV_CHANNELS * WAV_BITS // 8,
        WAV_BITS,
    )
    info = b"INFOISFT\x08\x00\x00\x00lakehse\x00"
    lst = struct.pack("<4sI", b"LIST", len(info)) + info
    data = struct.pack("<4sI", b"data", len(pcm)) + pcm
    if len(pcm) % 2:  # RIFF chunks are word-aligned
        data += b"\x00"
    body = b"WAVE" + fmt + lst + data
    return struct.pack("<4sI", b"RIFF", len(body)) + body


def _parse_wav(wav: bytes) -> tuple[int, int, int, int, bytes]:
    """(fmt_tag, sample_rate, channels, bits, data) via the chunk
    walk; fmt_tag is what a real audio pipeline DISPATCHES its
    decoder on (1 = linear PCM, 6/7 = G.711 A-law/mu-law)."""
    import struct

    if wav[:4] != b"RIFF" or wav[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    pos, end = 12, 8 + struct.unpack("<I", wav[4:8])[0]
    fmt_tag = rate = channels = bits = None
    pcm = None
    while pos + 8 <= end:
        cid, size = struct.unpack("<4sI", wav[pos : pos + 8])
        body = wav[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_tag, channels, rate, _, _, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size % 2)  # word alignment
    if rate is None or pcm is None:
        raise ValueError("missing fmt or data chunk")
    return fmt_tag, rate, channels, bits, pcm


def wav_roundtrip_row(doc_id, payload):
    """Encode a payload into a WAV container, then parse it back with
    the chunk walker and emit header fields + exact PCM stats.

    A NULL payload keeps the oracle's shape: the header constants
    are emitted unconditionally, the PCM-derived fields go NULL. A
    zero-sample payload has NULL stats with n_samples=0 (list_sum over
    an empty list is NULL in the oracle)."""
    import numpy as np

    if payload is None:
        return [(doc_id, WAV_RATE, WAV_CHANNELS, WAV_BITS, None, None, None)]
    fmt_tag, rate, channels, bits, pcm = _parse_wav(_build_wav(payload))
    if fmt_tag != 1:
        raise ValueError(f"expected PCM fmt tag, got {fmt_tag}")
    x = np.frombuffer(pcm, dtype=np.uint8).astype(np.int64)
    if not len(x):
        return [(doc_id, rate, channels, bits, 0, None, None)]
    s = int(x.sum())
    return [(doc_id, rate, channels, bits, len(x), s, _r6(s / len(x)))]


@query(
    "k5_wav_decode",
    oracle=f"""
    SELECT doc_id,
           CAST({WAV_RATE} AS INTEGER) AS sample_rate,
           CAST({WAV_CHANNELS} AS INTEGER) AS channels,
           CAST({WAV_BITS} AS INTEGER) AS bits,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_samples,
           CAST(list_sum(list_transform(range(octet_length(encode(text))),
             k -> CAST(ascii(substring(text, CAST(k + 1 AS INTEGER), 1))
                  AS BIGINT))) AS BIGINT) AS sum_amp,
           ROUND(CAST(list_sum(list_transform(range(octet_length(encode(text))),
             k -> CAST(ascii(substring(text, CAST(k + 1 AS INTEGER), 1))
                  AS BIGINT))) AS DOUBLE)
             / octet_length(encode(text)), 6) AS mean_amp
    FROM documents
    """,
)
def k5_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV/RIFF container round-trip (SURVEY K5 audio rung #2,
    extending raw-PCM k5_pcm_frames to the CONTAINER level): each
    payload is wrapped in a real RIFF/WAVE file — fmt chunk, an
    interleaved LIST(INFO) chunk, word-aligned data chunk — then
    parsed back by an honest chunk WALKER (struct-unpack per chunk
    header; the LIST chunk guarantees a fixed-offset cheat would
    fail), yielding header fields and exact u8 PCM stats. The oracle
    pins the round-trip lossless: header constants match the build
    parameters, per-doc sums match the text bytes the payload stands
    in for.

    Same scale shape as every K5 op: one `map_rows` pass,
    map-only, payload bytes never shuffle. Compressed AUDIO codecs
    (MP3/AAC) stay behind the documented seam; container
    parsing (RIFF here, like the P6 header parse for images) is the
    part a 100 TB media pipeline runs BEFORE any codec."""
    m = media_table(spark, sf_dir)
    return map_rows(
        m.select("doc_id", "payload"),
        wav_roundtrip_row,
        "doc_id long, sample_rate int, channels int, bits int, "
        "n_samples bigint, sum_amp bigint, mean_amp double",
    )


# ---------------------------------------------------------------------------
# K5 — perceptual-hash image near-dup (aHash + Hamming banding)
# ---------------------------------------------------------------------------

AHASH_MAX_HAMMING = 7  # pairs with distance <= 7 are "near-dup"

# Per-doc 64-bit aHash, kept as 8 band BYTES (bits 8j..8j+7) — the
# banded representation IS the index: 8 bands guarantee any pair
# within Hamming distance 7 agrees on at least one whole band
# (pigeonhole), so candidate generation is an equi-join on
# (band_idx, band_byte), never an all-pairs scan. At larger corpus
# sizes the 256-value byte buckets saturate (measured 5.2x at 10x
# corpus in the scale smoke), so candidate generation widens to
# the multi-index-hashing combinatorial form — see _ahash_band_plan.
# grays -> mean-threshold bits -> 8 band bytes: the CTE tail shared
# by every aHash oracle (PPM, PNG, and the mixed PNG/JPEG corpus —
# shared so a banding edit cannot drift one oracle silently).
_AHASH_BANDS_SQL = """, b AS (
      SELECT doc_id, grays, list_sum(grays) AS total,
             list_transform(grays, x ->
               CASE WHEN x * 64 > list_sum(grays) THEN 1 ELSE 0 END) AS bits
      FROM g
    ), hashes AS (
      SELECT doc_id,
             list_transform(range(0, 8), j ->
               list_sum(list_transform(range(0, 8), k ->
                 bits[8 * j + k + 1] * (1 << k)))) AS bands
      FROM b
    )
"""

_AHASH_SQL = (
    """
    WITH img AS (
      SELECT doc_id, rpad(text || ' x', 192, text || ' x') AS body
      FROM documents
      WHERE text IS NOT NULL
    ), g AS (
      SELECT doc_id,
             list_transform(range(0, 64), i ->
               ascii(substring(body, 1 + 3 * i, 1))
               + ascii(substring(body, 2 + 3 * i, 1))
               + ascii(substring(body, 3 + 3 * i, 1))) AS grays
      FROM img
    )"""
    + _AHASH_BANDS_SQL
)

# The candidate-pairs + exact-Hamming tail shared VERBATIM by
# k5_ahash_near_dup and k5_png_near_dup (a copy would let
# a one-sided banding/threshold edit drift the two oracles apart
# silently).
_AHASH_PAIRS_SQL = f""",
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
      FROM (SELECT doc_id, j, bands[j + 1] AS band_val
            FROM hashes, UNNEST(range(0, 8)) AS t(j)) a
      JOIN (SELECT doc_id, j, bands[j + 1] AS band_val
            FROM hashes, UNNEST(range(0, 8)) AS t(j)) c
        ON a.j = c.j AND a.band_val = c.band_val AND a.doc_id < c.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           CAST(list_sum(list_transform(range(0, 8), j ->
             bit_count(xor(ha.bands[j + 1], hb.bands[j + 1]))))
             AS BIGINT) AS hamming
    FROM pairs p
    JOIN hashes ha ON ha.doc_id = p.doc_a
    JOIN hashes hb ON hb.doc_id = p.doc_b
    WHERE list_sum(list_transform(range(0, 8), j ->
            bit_count(xor(ha.bands[j + 1], hb.bands[j + 1]))))
          <= {AHASH_MAX_HAMMING}
    """

AHASH_SCHEMA = StructType(
    [StructField("doc_id", LongType())]
    + [StructField(f"b{j}", IntegerType()) for j in range(8)]
)


def _ahash_near_dup_pairs(payloads: DataFrame, gray_of) -> DataFrame:
    """Shared aHash tail of every image near-dup query. One
    batch-vectorized mapInArrow pass over the (doc_id, payload)
    frame: NULL payloads (NULL source text) carry no image and are
    dropped; `gray_of(list_of_payload_bytes)` returns the batch's
    (n, n_pixels) int64 grayscale sums; mean-threshold bits (integer
    cross-multiply, no division) pack into the 8 little-bit-order
    band bytes b0..b7. Then the banded candidate join.

    The hash table fans out 4 ways (two band-join sides + two
    Hamming-verify sides); without materialization each branch re-runs
    the decode kernel (measured 7.3 s -> 2.6 s at sf0.1). One eager
    localCheckpoint of the 9-int-per-doc table is the write-once
    fan-out shape a production pipeline persists anyway; it also makes
    the count that drives the band plan a cheap read."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(AHASH_SCHEMA)

    def run(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            batch = batch.filter(pc.is_valid(batch.column(1)))
            if not batch.num_rows:
                continue
            gray = gray_of(batch.column(1).to_pylist())
            npx = gray.shape[1]
            bits = gray * npx > gray.sum(axis=1, keepdims=True)
            bands = np.packbits(bits, axis=1, bitorder="little")
            yield pa.RecordBatch.from_arrays(
                [batch.column(0)]
                + [pa.array(bands[:, j].astype(np.int32)) for j in range(8)],
                schema=arrow_schema,
            )

    hashes = pin(payloads.mapInArrow(run, AHASH_SCHEMA))
    m, r = _ahash_band_plan(hashes.count())
    return _ahash_candidate_pairs(hashes, m, r)


@query(
    "k5_ahash_near_dup",
    oracle=f"{_AHASH_SQL}{_AHASH_PAIRS_SQL}",
)
def k5_ahash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup (aHash, the classic
    imagehash/pHash-family fingerprint): decode each row's 8x8 P6
    image to grayscale integer sums, threshold against the image mean
    (integer cross-multiply `g*64 > total` — no division, bit-exact
    in any engine), pack the 64 bits into 8 band bytes, and find all
    image pairs within Hamming distance {AHASH_MAX_HAMMING} via the
    pigeonhole band equi-join — the image-side twin of
    `k2_simhash_near_pairs`, and the standard image-dedup stage of a
    multimodal training pipeline (CLIP-corpus dedup without
    embeddings).

    Completeness: 8 bands / distance 7 is exhaustive by pigeonhole —
    every qualifying pair agrees exactly on >=1 band, so no
    cross join and no recall loss. All arithmetic is integer; the
    DuckDB oracle recomputes identical hashes from the same bytes.

    100 TB design: hashing is a map-only batch-vectorized numpy kernel
    over the decoded pixels (the per-pixel threshold as a Column
    expression tree fanned out 4x through the self-join and stalled
    Catalyst optimization — the same >10²-term lesson as
    k3_pq_quantize); the only shuffle is the band-bucket join, and
    its bucket sizes are kept sub-saturated by CORPUS-SCALED banding
    (`_ahash_band_plan`): small corpora use the classic 8x8-bit
    single-band key; bigger corpora switch to the multi-index-hashing
    combinatorial key — m bands of 64//m bits joined on r agreeing
    bands at once, complete for Hamming<=7 whenever r <= m-7 (a pair
    with <=7 differing bands shares >= m-7 >= r agreeing bands, hence
    every r-subset of that shared set). Each (m, r) step multiplies
    the key space by ~2^(r*w)/2^8, collapsing expected bucket
    collisions from N^2/32 (8x1) to N^2/455 (9x2) to N^2/2185 (10x3)
    while fan-out grows only C(m, r) rows/doc. Exact Hamming
    verification touches only candidates and is an 8-term bit_count
    expression."""
    d = T(spark, sf_dir, "documents")
    media = d.select("doc_id", ppm_payload_col().alias("payload"))

    hdr = len(PPM_HEADER)
    npx = PPM_W * PPM_H

    def ppm_gray(payloads):
        import numpy as np

        # Fixed-geometry P6: validate headers, then decode the WHOLE
        # batch as one (n, 64, 3) reshape — a per-image Python loop
        # here measured 4.6 s of the query's 6 s at sf0.1; the batch
        # form is ~µs/image (the BLAS shape).
        raw = np.frombuffer(b"".join(payloads), dtype=np.uint8).reshape(
            len(payloads), hdr + 3 * npx
        )
        if not (raw[:, :2] == np.frombuffer(b"P6", np.uint8)).all():
            raise ValueError("not a P6 PPM payload")
        return (
            raw[:, hdr:].reshape(len(payloads), npx, 3).astype(np.int64).sum(axis=2)
        )

    return _ahash_near_dup_pairs(media, ppm_gray)


def _ahash_band_plan(n_docs: int) -> tuple:
    """Corpus-scaled banding for 64-bit codes at Hamming<=7 (fixed
    byte bands were the one measured scale-killer). Returns (m, r): split the
    code into m bands of 64//m bits and join on every r-subset of
    bands (C(m, r) keys/doc, key space ~2^(r*(64//m))). Completeness
    needs r <= m - 7; each step trades ~4.5x key fan-out (a per-ROW
    shuffle cost, ~µs) for ~14x fewer expected bucket collisions (a
    per-CANDIDATE codegen'd bit_count cost, ~ns), so the crossover
    sits far above naive candidate-count parity. Thresholds are
    MEASURED on random codes, local[32]: at 200k docs (8,1) still
    wins (9.0 vs 15.1 s); at 500k docs (9,2) wins 2.1x (30.9 vs
    64.2 s); at 1M docs 3.1x (75 vs 234 s) and the gap grows with
    N^2. The (10,3) step pays 84 more keys/doc against a further
    ~4.8x collision cut — per the same ns-vs-µs model its crossover
    is ~3e7 docs (untestable on one box; the N^2/910 -> N^2/4369
    collision math is what justifies it)."""
    if n_docs <= 300_000:
        return (8, 1)   # classic byte bands: 8 keys/doc, 2^8 buckets
    if n_docs <= 30_000_000:
        return (9, 2)   # 36 keys/doc, ~2^14 buckets per combo
    return (10, 3)      # 120 keys/doc, ~2^18 buckets per combo


def _ahash_candidate_pairs(hashes: DataFrame, m: int, r: int) -> DataFrame:
    """Banded near-dup pairs from the 8-byte-band `hashes` table.

    Key construction: band i (width w = 64//m) is bits [w*i, w*i+w)
    of the code, re-extracted from the stored b0..b7 bytes with a
    bounded shift/mask expression (<= 64 integer terms total — well
    under the Catalyst >10²-term stall). Each doc emits one bigint
    key per r-combination: combo index and the r band values packed
    into <= 38 bits, so the join key is a single long — one shuffle
    column, no struct comparison.

    Each key row CARRIES its image's full 8-byte hash, so the exact
    Hamming check runs INSIDE the band join and the distinct only
    sees surviving pairs (verify-then-distinct — deduping first
    shuffled every skewed-bucket candidate: 5M rows at sf0.1, 7.6 s;
    filtering first leaves ~400, measured 3x faster)."""
    import itertools

    w = 64 // m

    def band_val(i: int):
        # bits w*i .. w*i+w-1, little bit-order within packed bytes
        terms = []
        for t in range(w):
            p = w * i + t
            bit = F.shiftright(F.col(f"b{p // 8}"), p % 8).bitwiseAND(
                F.lit(1)
            )
            terms.append(F.shiftleft(bit.cast("long"), t))
        out = terms[0]
        for e in terms[1:]:
            out = out + e
        return out

    bvals = [band_val(i) for i in range(m)]
    keys = []
    for q, combo in enumerate(itertools.combinations(range(m), r)):
        key = F.lit(q).cast("long")
        for i in combo:
            key = F.shiftleft(key, w) + bvals[i]
        keys.append(key)
    banded = hashes.select(
        "doc_id",
        *[f"b{j}" for j in range(8)],
        F.explode(F.array(*keys)).alias("band_key"),
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        "band_key",
        *[F.col(f"b{j}").alias(f"a{j}") for j in range(8)],
    )
    c = banded.select(
        F.col("doc_id").alias("doc_b"),
        "band_key",
        *[F.col(f"b{j}").alias(f"c{j}") for j in range(8)],
    )
    hamming = sum(
        F.bit_count(F.expr(f"a{j} ^ c{j}")) for j in range(8)
    ).cast("bigint")
    return (
        a.join(c, ["band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= AHASH_MAX_HAMMING)
        .distinct()
    )


@query(
    "k5_png_near_dup",
    oracle=f"{_AHASH_SQL}{_AHASH_PAIRS_SQL}",
)
def k5_png_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE multimodal dedup pipeline over COMPRESSED media:
    binary PNG payloads (zlib IDAT, CRC'd chunks, all-5-filter
    scanlines — the ingestion stand-in `png_encode_row` builds
    real files) -> REAL codec decode (`png_decode_rgb`: chunk walk +
    CRC verify + inflate + un-filter) -> 64-bit aHash over the decoded
    pixels -> pigeonhole banded near-dup pairs. This is the CLIP-style
    image-corpus dedup path end-to-end: what arrives is a compressed
    file, not pixels, and the fingerprint must be computed on what the
    DECODER produces. Because PNG is lossless, the pairs must equal
    `k5_ahash_near_dup`'s (same pixels, same hash) — so the DuckDB
    oracle recomputes the hashes straight from the source bytes and a
    hash match certifies decode-lossless-ness THROUGH the dedup
    consumer, not just per-image channel means.

    100 TB design: same as k5_ahash_near_dup plus one pre-encode
    repartition exchange (192-byte pixel rows, PRE-payload — see the
    inline comment below; the sf fixtures are single-split scans that
    would otherwise serialize the per-image codec kernel onto one
    core), then the encode+decode+hash passes and the
    band-bucket equi-join as the only data-sized shuffle, with
    corpus-scaled banding via `_ahash_band_plan`; the per-image cost
    beyond the aHash twin is the codec
    kernel (zlib + unfilter, O(pixels)), which rides the scan's
    parallelism. Reference parity: the reference stores media as
    opaque object-store blobs and would run the same decode in its
    Spark jobs (/root/reference/scripts/extract_load.py loads raw
    binary-bearing tables; no decode exists there — this is north-star
    K5 surface)."""
    d = T(spark, sf_dir, "documents")
    body = F.expr("rpad(text || ' x', 192, text || ' x')")
    # The codec kernel is per-image CPU (zlib + CRC + unfilter —
    # ~0.1 ms/image at 8x8, and it grows with pixel count, unlike the
    # µs-batch-vectorized aHash kernel), so its parallelism must not
    # be capped by the scan's split count: the sf fixtures are one
    # parquet file = ONE split, serializing every decode onto a
    # single core. Quiet-box A/B at sf0.1 (5,000 images): 2.6 s
    # single-partition vs 2.3 s spread — modest at this toy pixel
    # count, but the gap scales with per-image cost while the
    # insurance is free: the shuffled rows are (id, 192 fixed bytes),
    # PRE-encode, never payload-sized blobs, and at real volumes a
    # media corpus arrives as many splits anyway.
    src = d.select(
        "doc_id", F.encode(body, "UTF-8").alias("pixels")
    ).repartition(spark.sparkContext.defaultParallelism)
    png = map_rows(src, png_encode_row, PAYLOAD_SCHEMA)

    def png_gray(payloads):
        import numpy as np

        # Real decode per image (zlib inflate + 5-filter unapply);
        # per-image work is O(pixels), the honest cost profile of
        # compressed-codec ingestion.
        px = np.stack([png_decode_rgb(p) for p in payloads]).astype(np.int64)
        n, h, w_, _ = px.shape
        return px.reshape(n, h * w_, 3).sum(axis=2)

    return _ahash_near_dup_pairs(png, png_gray)


# ---------------------------------------------------------------------------
# K5 — REAL entropy-coded codec: baseline JPEG (ITU-T T.81), stdlib+numpy
# ---------------------------------------------------------------------------

JPEG_W = 32
JPEG_H = 32
JPEG_QUADS = 16  # 4x4 grid of 8x8 blocks; Y constant per block

JPEG_DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("quad_hex", StringType()),
    ]
)


def _jpeg_quadrant_payload(b) -> bytes | None:
    """18 text-derived bytes -> a REAL baseline 4:2:0 JPEG file.
    Bytes 1-16 are the Y constants of the image's 16 8x8 blocks,
    bytes 17/18 the global Cb/Cr — the block-constant construction
    under which the float DCT chain is exactly invertible (see
    functions/jpeg.py). Shared by the single-format and mixed-corpus
    encoders (a geometry edit applied to one copy would
    silently leave the other certificate on the old layout)."""
    import numpy as np

    from ..functions.jpeg import jpeg_encode_baseline

    if b is None:
        return None
    a = np.frombuffer(bytes(b)[:18], dtype=np.uint8)
    y = np.repeat(np.repeat(a[:16].reshape(4, 4), 8, 0), 8, 1)
    cb = np.full((JPEG_H // 2, JPEG_W // 2), a[16], np.uint8)
    cr = np.full((JPEG_H // 2, JPEG_W // 2), a[17], np.uint8)
    return jpeg_encode_baseline(y, cb, cr)


def jpeg_encode_row(doc_id, pixels):
    """Ingestion stand-in over `_jpeg_quadrant_payload`. The entropy
    machinery exercised is complete: 4 MCUs, cross-MCU DC prediction
    on three components, EOB coding, byte stuffing, all four Annex K
    Huffman tables."""
    return [(doc_id, _jpeg_quadrant_payload(pixels))]


def jpeg_decode_row(doc_id, p):
    """REAL JPEG decode: full marker walk, Huffman decode, dequantize,
    IDCT, 4:2:0 upsample, YCbCr->RGB. Emits the RGB of each 8x8
    block's top-left pixel (blocks are constant by construction) as
    48 hex bytes. NULL payload -> all-NULL row."""
    from ..functions.jpeg import jpeg_decode_baseline

    if p is None:
        return [(doc_id, None, None, None)]
    px = jpeg_decode_baseline(p)
    if px.ndim != 3 or px.shape != (JPEG_H, JPEG_W, 3):
        raise ValueError(f"unexpected decoded shape {px.shape}")
    return [(doc_id, JPEG_W, JPEG_H, bytes(px[::8, ::8].reshape(-1)).hex())]


def _jpeg_rgb_val_sql(
    chan: str,
    ybyte: str,
    cb: str = "ascii(substring(body, 17, 1))",
    cr: str = "ascii(substring(body, 18, 1))",
) -> str:
    """DuckDB BIGINT expr for one decoded channel of a block: the
    JFIF YCbCr->RGB formula with floor(x+0.5) rounding and [0,255]
    clamp — the exact double ops the decoder performs on the same
    ints. cb/cr default to the single-image payload's byte positions;
    the MJPEG oracle passes per-frame positions.

    The coefficients are CAST to DOUBLE explicitly:
    DuckDB types bare literals as DECIMAL and would evaluate the
    formula in exact decimal arithmetic, which disagrees with the
    decoder's float64 at floor(x+0.5) ties (measured: 36 (y,cb,cr)
    triples differ by 1 via the g-channel's .5 ties, e.g.
    y=111,cb=78,cr=178 → 93 decimal vs 92 double). The cast makes
    both engines run the same IEEE ops on the same ints."""
    if chan == "r":
        v = f"{ybyte} + CAST(1.402 AS DOUBLE) * ({cr} - 128)"
    elif chan == "g":
        v = (
            f"{ybyte} - CAST(0.344136 AS DOUBLE) * ({cb} - 128) "
            f"- CAST(0.714136 AS DOUBLE) * ({cr} - 128)"
        )
    else:
        v = f"{ybyte} + CAST(1.772 AS DOUBLE) * ({cb} - 128)"
    return f"CAST(LEAST(255, GREATEST(0, FLOOR({v} + 0.5))) AS BIGINT)"


def _jpeg_rgb_sql(chan: str, ybyte: str) -> str:
    return f"lpad(lower(hex({_jpeg_rgb_val_sql(chan, ybyte)})), 2, '0')"


@query(
    "k5_jpeg_decode",
    oracle=f"""
    WITH img AS (
      SELECT doc_id, rpad(text || ' x', 192, text || ' x') AS body
      FROM documents
    )
    SELECT doc_id,
           CAST(CASE WHEN body IS NULL THEN NULL ELSE {JPEG_W} END
                AS BIGINT) AS width,
           CAST(CASE WHEN body IS NULL THEN NULL ELSE {JPEG_H} END
                AS BIGINT) AS height,
           -- the NULL-body guard must be explicit: DuckDB's
           -- GREATEST(0, NULL) is 0 (NULL-ignoring), so the clamp
           -- would otherwise turn a NULL payload into '00' channels
           CASE WHEN body IS NULL THEN NULL ELSE
             (SELECT string_agg(
                {_jpeg_rgb_sql("r", "ascii(substring(body, CAST(q + 1 AS INTEGER), 1))")}
                || {_jpeg_rgb_sql("g", "ascii(substring(body, CAST(q + 1 AS INTEGER), 1))")}
                || {_jpeg_rgb_sql("b", "ascii(substring(body, CAST(q + 1 AS INTEGER), 1))")},
                '' ORDER BY q)
              FROM UNNEST(range({JPEG_QUADS})) AS t(q))
           END AS quad_hex
    FROM img
    """,
)
def k5_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL entropy-coded JPEG decode over a binary column
    (the baseline JPEG codec): each row's 18
    text-derived bytes become a genuine baseline-sequential 4:2:0
    JPEG (SOI/DQT/SOF0/DHT/SOS markers, Annex K Huffman tables,
    cross-MCU DC prediction, byte-stuffed entropy stream — built by
    the from-spec encoder in functions/jpeg.py), and the decoder then
    actually decodes it: marker/segment walk, canonical Huffman
    decode, dequantize, dezigzag, float IDCT, chroma upsample,
    YCbCr->RGB with floor(x+0.5)/clamp. The DuckDB oracle never
    parses JPEG — it recomputes the expected RGB straight from the
    bytes via the same color formula (identical double ops on
    identical ints), so a hash match certifies the whole
    Huffman/DCT/color chain bit-for-bit. Bit-exactness despite JPEG's
    lossiness comes from the block-constant construction: a constant
    8x8 block quantizes to a lone integer DC (every float AC residue
    ~1e-13 rounds to 0) and inverts exactly. Arbitrary images are
    near-lossless at quantizer 1 (|err| <= 3, pinned by pytest).

    Scale shape: identical to k5_png_decode — encode and decode are
    one map-only `map_rows` pass (`chain`); payload never shuffles;
    decode parallelism is scan parallelism, per-image work O(pixels).
    Progressive/arithmetic/12-bit/DRI variants stay loud ValueErrors
    (functions/jpeg.py names each).
    """
    d = T(spark, sf_dir, "documents")
    body = F.expr("rpad(text || ' x', 192, text || ' x')")
    # Spread past the fixtures' single-split scan (same rationale as
    # k5_png_near_dup): the codec kernel is ~1.2 ms/image of pure
    # Python/numpy, so its parallelism must be core-count, not
    # file-split-count; the exchanged rows are (id, 18-used bytes),
    # pre-payload.
    src = d.select(
        "doc_id", F.encode(body, "UTF-8").alias("pixels")
    ).repartition(spark.sparkContext.defaultParallelism)
    return map_rows(src, chain(jpeg_encode_row, jpeg_decode_row), JPEG_DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# K5 — mixed-format compressed-media near-dup (PNG + JPEG corpus)
# ---------------------------------------------------------------------------

_JPEG_QUAD_OF_CELL = "((((i // 8) // 2) * 4) + ((i % 8) // 2))"
_JPEG_YBYTE = (
    f"ascii(substring(body, CAST({_JPEG_QUAD_OF_CELL} + 1 AS INTEGER), 1))"
)

# WHERE text IS NOT NULL: the engine kernels DROP
# NULL payloads, but without the guard the oracle's CASE bits fall to
# ELSE 0 for NULL grays, minting an all-zero hash that band-matches
# real images — a NULL-text fixture row would emit oracle-only pairs.
_MEDIA_MIXED_GRAYS_SQL = f"""
    WITH img AS (
      SELECT doc_id, rpad(text || ' x', 192, text || ' x') AS body
      FROM documents
      WHERE text IS NOT NULL
    ), g AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN
               list_transform(range(0, 64), i ->
                 ascii(substring(body, 1 + 3 * i, 1))
                 + ascii(substring(body, 2 + 3 * i, 1))
                 + ascii(substring(body, 3 + 3 * i, 1)))
             ELSE
               list_transform(range(0, 64), i ->
                 16 * ({_jpeg_rgb_val_sql("r", _JPEG_YBYTE)}
                       + {_jpeg_rgb_val_sql("g", _JPEG_YBYTE)}
                       + {_jpeg_rgb_val_sql("b", _JPEG_YBYTE)}))
             END AS grays
      FROM img
    )"""


def media_mixed_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixed compressed-media corpus: even doc_ids carry a real
    PNG (8x8 RGB, zlib IDAT, 5-filter scanlines), odd doc_ids a real
    baseline 4:2:0 JPEG (quadrant-constant 32x32) — the honest shape
    of a crawled image corpus, where the dedup stage cannot assume
    one codec. Payload synthesis is the same pre-encode repartition
    + `map_rows` pass as the single-format pipelines."""
    d = T(spark, sf_dir, "documents")
    body = F.expr("rpad(text || ' x', 192, text || ' x')")
    src = d.select(
        "doc_id", F.encode(body, "UTF-8").alias("pixels")
    ).repartition(spark.sparkContext.defaultParallelism)

    def encode_mixed(doc_id, b):
        if b is None or doc_id % 2:
            return jpeg_encode_row(doc_id, b)
        return png_encode_row(doc_id, b[:192])

    return map_rows(src, encode_mixed, PAYLOAD_SCHEMA)


@query(
    "k5_media_near_dup",
    oracle=f"{_MEDIA_MIXED_GRAYS_SQL}{_AHASH_BANDS_SQL}{_AHASH_PAIRS_SQL}",
)
def k5_media_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-format compressed-media dedup (the near-dup pipeline
    over a mixed PNG/JPEG corpus): half the corpus arrives as PNG
    files, half as baseline
    JPEGs; the hash kernel SNIFFS each payload's magic, runs the
    matching REAL decoder (zlib+unfilter or Huffman+IDCT), normalizes
    both to the same 8x8 aHash cell grid — PNG pixels 1:1, the 32x32
    JPEG box-summed 4x4 per cell with pure-integer sums — and feeds
    one banded near-dup join across formats. This is the actual
    multimodal-corpus contract: near-dup candidates must surface
    regardless of which codec a crawler stored.

    The DuckDB oracle recomputes both formats' cell grays straight
    from the source bytes (the PNG path byte-identity, the JPEG path
    via the same YCbCr->RGB double ops the decoder performs) and
    replays the shared banding SQL, so a hash match certifies BOTH
    decoders through the dedup consumer in one verdict. NULL-text
    rows drop on BOTH sides (kernel: no payload; oracle: WHERE text
    IS NOT NULL), so the pairs are parity-true even
    on a NULL-bearing corpus.

    100 TB design: identical to k5_png_near_dup — pre-encode
    repartition (18-192-byte pixel rows), map-only
    encode and decode+hash passes, band-bucket equi-join as the only
    data-sized shuffle, corpus-scaled banding via _ahash_band_plan;
    the sniff adds one magic-bytes branch per image."""
    png_or_jpg = media_mixed_payloads(spark, sf_dir)

    def mixed_gray(payloads):
        import numpy as np

        from ..functions.jpeg import jpeg_decode_baseline

        def gray_cells(p):
            if p[:8] == PNG_SIG:
                px = png_decode_rgb(p).astype(np.int64)
                return px.sum(axis=2).reshape(-1)
            if p[:2] == b"\xff\xd8":
                px = jpeg_decode_baseline(p).astype(np.int64)
                return (
                    px.reshape(8, 4, 8, 4, 3).sum(axis=(1, 3, 4)).reshape(-1)
                )
            raise ValueError("unknown media payload magic")

        return np.stack([gray_cells(p) for p in payloads])

    return _ahash_near_dup_pairs(png_or_jpg, mixed_gray)


# ---------------------------------------------------------------------------
# K5 — video rung: MJPEG frame sampling with REAL per-frame decode
# ---------------------------------------------------------------------------

MJPEG_FRAMES = 6      # frames per clip
MJPEG_EVERY = 2       # sample every Nth frame
MJPEG_FRAME_W = 16
MJPEG_FRAME_H = 16
_MJPEG_BYTES_PER_FRAME = 6  # 4 Y-block constants + Cb + Cr

MJPEG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_no", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("quad_hex", StringType()),
    ]
)


def mjpeg_encode_row(doc_id, b):
    """Ingestion stand-in: 36 text-derived bytes per row -> a REAL
    Motion-JPEG stream (MJPEG is literally concatenated baseline JPEG
    frames — the format video pipelines split before per-frame work).
    Frame f's 16x16 image uses bytes [6f..6f+3] as its four 8x8 Y
    block constants and bytes [6f+4]/[6f+5] as its global Cb/Cr."""
    import numpy as np

    from ..functions.jpeg import jpeg_encode_baseline

    if b is None:
        return [(doc_id, None)]
    a = np.frombuffer(b[: MJPEG_FRAMES * _MJPEG_BYTES_PER_FRAME], dtype=np.uint8)
    frames = []
    for f in range(MJPEG_FRAMES):
        fb = a[f * 6 : f * 6 + 6]
        y = np.repeat(np.repeat(fb[:4].reshape(2, 2), 8, 0), 8, 1)
        cb = np.full((8, 8), fb[4], np.uint8)
        cr = np.full((8, 8), fb[5], np.uint8)
        frames.append(jpeg_encode_baseline(y, cb, cr))
    return [(doc_id, b"".join(frames))]


def _mjpeg_frame_end(p: bytes, pos: int) -> int:
    """End offset (exclusive) of the baseline JPEG frame starting at
    `pos` — an honest MJPEG splitter (segment payloads
    are NOT byte-stuffed, so a raw FF D9 inside a DQT/DHT/APPn/COM
    body must be skipped STRUCTURALLY, not found with a byte search).
    Walk the length-prefixed header segments to SOS, then scan the
    entropy stream, where stuffing DOES guarantee every 0xFF is
    followed by 0x00 (or a real marker) until EOI."""
    import struct

    if p[pos : pos + 2] != b"\xff\xd8":
        raise ValueError(f"MJPEG stream: expected SOI at offset {pos}")
    q = pos + 2
    while True:  # header segments (all length-prefixed in baseline)
        if q + 4 > len(p) or p[q] != 0xFF:
            raise ValueError(
                f"MJPEG stream: bad segment marker at offset {q}"
            )
        marker = p[q + 1]
        if 0xD0 <= marker <= 0xD9 or marker == 0x01:
            # SOI/EOI/RSTn/TEM carry no length field — none is legal
            # inside a frame header, so misreading entropy bytes as a
            # segment length must fail HERE, not somewhere downstream
            raise ValueError(
                f"MJPEG stream: unexpected marker 0xFF{marker:02X} "
                "in frame header"
            )
        (ln,) = struct.unpack(">H", p[q + 2 : q + 4])
        q = q + 2 + ln
        if marker == 0xDA:  # SOS header consumed; entropy follows
            break
    while True:  # entropy region: stuffing applies
        idx = p.find(b"\xff", q)
        if idx < 0 or idx + 1 >= len(p):
            raise ValueError("MJPEG stream: frame missing EOI")
        m = p[idx + 1]
        if m == 0x00:  # stuffed data byte
            q = idx + 2
        elif m == 0xFF:  # fill byte before a marker
            q = idx + 1
        elif m == 0xD9:
            return idx + 2
        else:
            raise ValueError(
                f"MJPEG stream: unexpected marker 0xFF{m:02X} in frame"
            )


def mjpeg_frame_rows(doc_id, p):
    """REAL video frame sampling: split the MJPEG stream at frame
    boundaries with the segment-aware walker above, decode every
    MJPEG_EVERY-th frame with the full baseline decoder, and emit its
    4 block constants as RGB hex. Frames NOT sampled are never
    decoded — the skip is the point of frame sampling at 100 TB. One
    clip row fans out to ceil(MJPEG_FRAMES/MJPEG_EVERY) frame rows.
    NULL payload -> no rows (a missing clip has no frames)."""
    from ..functions.jpeg import jpeg_decode_baseline

    if p is None:
        return
    bounds = []
    pos = 0
    while pos < len(p):
        end = _mjpeg_frame_end(p, pos)
        bounds.append((pos, end))
        pos = end
    for f in range(0, len(bounds), MJPEG_EVERY):
        s, e = bounds[f]
        px = jpeg_decode_baseline(p[s:e])
        if px.shape != (MJPEG_FRAME_H, MJPEG_FRAME_W, 3):
            raise ValueError(f"unexpected frame shape {px.shape}")
        yield (
            doc_id,
            f,
            MJPEG_FRAME_W,
            MJPEG_FRAME_H,
            bytes(px[::8, ::8].reshape(-1)).hex(),
        )


def _mjpeg_quad_hex_sql() -> str:
    yb = (
        "ascii(substring(body, CAST(f * 6 + q + 1 AS INTEGER), 1))"
    )
    cb = "ascii(substring(body, CAST(f * 6 + 5 AS INTEGER), 1))"
    cr = "ascii(substring(body, CAST(f * 6 + 6 AS INTEGER), 1))"
    return (
        "(SELECT string_agg("
        f"lpad(lower(hex({_jpeg_rgb_val_sql('r', yb, cb, cr)})), 2, '0')"
        f" || lpad(lower(hex({_jpeg_rgb_val_sql('g', yb, cb, cr)})), 2, '0')"
        f" || lpad(lower(hex({_jpeg_rgb_val_sql('b', yb, cb, cr)})), 2, '0')"
        ", '' ORDER BY q) FROM UNNEST(range(4)) AS t(q))"
    )


@query(
    "k5_mjpeg_frames",
    oracle=f"""
    WITH img AS (
      SELECT doc_id, rpad(text || ' x', 192, text || ' x') AS body
      FROM documents
      WHERE text IS NOT NULL
    ), fr AS (
      SELECT doc_id, body,
             UNNEST(range(0, {MJPEG_FRAMES}, {MJPEG_EVERY})) AS f
      FROM img
    )
    SELECT doc_id,
           CAST(f AS BIGINT) AS frame_no,
           CAST({MJPEG_FRAME_W} AS BIGINT) AS width,
           CAST({MJPEG_FRAME_H} AS BIGINT) AS height,
           {_mjpeg_quad_hex_sql()} AS quad_hex
    FROM fr
    """,
)
def k5_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-pipeline frame sampling with REAL decode (upgrades
    the K5 video rung past k5_frame_sample's digest framing): each
    row carries a genuine Motion-JPEG clip ({MJPEG_FRAMES} concatenated
    baseline JPEG frames built by the from-spec encoder), and the
    sampler does the actual work of a video ingest stage: split the
    stream at frame boundaries (SOI scan + EOI search — sound because
    baseline byte stuffing guarantees no raw EOI inside entropy
    data), decode every {MJPEG_EVERY}nd frame through the full
    Huffman/IDCT/color pipeline, and emit per-frame features; skipped
    frames are never decoded, which is the entire economics of frame
    sampling on a 100 TB video corpus. The DuckDB oracle recomputes
    each sampled frame's expected RGB from the clip's source bytes
    (same double ops), so a hash match certifies boundary detection +
    per-frame decode + sampling stride in one verdict.

    Scale shape: pre-encode repartition (36-used-byte rows), then
    encode and sampling as one map-only `map_rows` pass (`chain`)
    with executor-side fan-out (1 clip row ->
    {MJPEG_FRAMES // MJPEG_EVERY} frame rows); payloads never
    shuffle. NULL-text rows carry no clip and emit no frames (oracle:
    WHERE text IS NOT NULL)."""
    d = T(spark, sf_dir, "documents")
    body = F.expr("rpad(text || ' x', 192, text || ' x')")
    src = d.select(
        "doc_id", F.encode(body, "UTF-8").alias("pixels")
    ).repartition(spark.sparkContext.defaultParallelism)
    return map_rows(src, chain(mjpeg_encode_row, mjpeg_frame_rows), MJPEG_SCHEMA)


# ---------------------------------------------------------------------------
# K5 — compressed AUDIO codec: G.711 mu-law (ITU-T G.711), pure integer
# ---------------------------------------------------------------------------


def ulaw_decode(codes):
    """REAL compressed-audio decode (ITU-T G.711 mu-law — the
    standard telephony companding codec; closes the compressed-audio
    rung the WAV/PCM certs left open): 8-bit code -> 16-bit linear
    PCM via the spec's exact integer expansion. Vectorized numpy,
    pure integer — bit-identical in any engine."""
    import numpy as np

    u = np.bitwise_xor(codes.astype(np.int64), 0xFF)
    t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
    return np.where(u & 0x80, 0x84 - t, t - 0x84)


def ulaw_encode(pcm):
    """G.711 linear->mu-law compression (the lossy half): clip, bias,
    find the segment (exponent), quantize the mantissa, complement.
    Satisfies the spec identity encode(decode(c)) == c for every code
    except 0x7F (negative zero, canonicalized to 0xFF) — pinned by
    pytest."""
    import numpy as np

    x = pcm.astype(np.int64)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), 32635) + 0x84
    # exponent = position of the highest set bit above bit 7 (0..7)
    exp = np.zeros_like(mag)
    for e in range(7, 0, -1):
        # parenthesized explicitly: Python's == binds tighter than &
        exp = np.where(((mag >> (e + 7)) & 1) == 1, np.maximum(exp, e), exp)
    mant = (mag >> (exp + 3)) & 0x0F
    return np.bitwise_xor(sign | (exp << 4) | mant, 0xFF).astype(np.uint8)


ULAW_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("sum_pcm", LongType()),
        StructField("min_pcm", LongType()),
        StructField("max_pcm", LongType()),
    ]
)


def _g711_stats(codes: bytes, decode) -> tuple:
    """(n_samples, sum_pcm, min_pcm, max_pcm) of a G.711 code stream,
    exact integers; an empty stream -> (0, NULL, NULL, NULL), matching
    the oracle's empty-list aggregates."""
    import numpy as np

    x = np.frombuffer(codes, dtype=np.uint8)
    if not len(x):
        return (0, None, None, None)
    pcm = decode(x)
    return (len(x), int(pcm.sum()), int(pcm.min()), int(pcm.max()))


def ulaw_decode_row(doc_id, p):
    """mu-law stream decode: payload bytes are G.711 codes; emit
    exact integer PCM stats per payload. NULL payload -> NULL stats
    row."""
    if p is None:
        return [(doc_id, None, None, None, None)]
    return [(doc_id, *_g711_stats(p, ulaw_decode))]


_ULAW_PCM_SQL = """list_transform(
      list_transform(range(octet_length(encode(text))),
        k -> xor(CAST(ascii(substring(text, CAST(k + 1 AS INTEGER), 1))
                 AS BIGINT), 255)),
      u -> CASE WHEN (u & 128) > 0
           THEN 132 - ((((u & 15) * 8) + 132) * (1 << ((u & 112) // 16)))
           ELSE ((((u & 15) * 8) + 132) * (1 << ((u & 112) // 16))) - 132
           END)"""


@query(
    "k5_ulaw_decode",
    oracle=f"""
    WITH pcm AS (
      SELECT doc_id,
             octet_length(encode(text)) AS nb,
             {_ULAW_PCM_SQL} AS vals
      FROM documents
    )
    SELECT doc_id,
           CAST(nb AS BIGINT) AS n_samples,
           CAST(list_sum(vals) AS BIGINT) AS sum_pcm,
           CAST(list_min(vals) AS BIGINT) AS min_pcm,
           CAST(list_max(vals) AS BIGINT) AS max_pcm
    FROM pcm
    """,
)
def k5_ulaw_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-AUDIO codec certificate (the audio twin of
    the PNG/JPEG image certs): each payload is a G.711 mu-law stream
    (the fixture's text bytes as codes — every byte IS a valid mu-law
    code, so no synthesis step is needed), and the Arrow-batched
    kernel performs the REAL spec expansion to 16-bit linear PCM
    (complement, mantissa/exponent unpack, bias removal — pure
    integer, no codec library). The DuckDB oracle replays the exact
    integer formula per byte, so the hash certifies the decode
    bit-for-bit; the lossy encode half is pytest-pinned by the spec's
    encode(decode(c)) == c identity over all 256 codes (0x7F's
    negative zero canonicalizes to 0xFF, per spec).

    Scale shape: one map-only `map_rows` pass, payload never
    shuffles; mu-law expansion is a constant-time table-free bit
    formula per sample, so decode runs at scan speed. Compressed
    PERCEPTUAL audio (MP3/AAC) remains the documented out-of-scope
    seam; companded telephony audio no longer is."""
    m = media_table(spark, sf_dir)
    return map_rows(m.select("doc_id", "payload"), ulaw_decode_row, ULAW_SCHEMA)


# ---------------------------------------------------------------------------
# K5 — BMP (Windows DIB): third image codec, the uncompressed one
# ---------------------------------------------------------------------------

_BMP_HEADER = 54  # BITMAPFILEHEADER (14) + BITMAPINFOHEADER (40)


def bmp_encode(px) -> bytes:
    """(h, w, 3) RGB uint8 -> a real 24-bit BI_RGB BMP: 'BM' file
    header, BITMAPINFOHEADER, and the format's two famous quirks a
    lazy codec gets wrong — pixels stored BGR (channel-reversed) and
    rows BOTTOM-UP, each padded to a 4-byte boundary."""
    import struct

    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError(
            f"expected (h, w, 3) RGB pixels, got shape {tuple(px.shape)}"
        )
    h, w, _ = px.shape
    stride = (3 * w + 3) & ~3
    img_size = stride * h
    info = struct.pack(
        "<IiiHHIIiiII",
        40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0,
    )
    head = struct.pack(
        "<2sIHHI", b"BM", _BMP_HEADER + img_size, 0, 0, _BMP_HEADER
    )
    rows = bytearray()
    bgr = px[:, :, ::-1]  # RGB -> BGR
    pad = b"\x00" * (stride - 3 * w)
    for y in range(h - 1, -1, -1):  # bottom-up
        rows += bgr[y].tobytes() + pad
    return head + info + bytes(rows)


def bmp_decode(b: bytes):
    """Real BMP decode, LOUD on every malformation the header can
    express: magic, declared-vs-actual file size, header size 40
    (V4/V5/core variants raise NAMED), planes, bpp 24 only (palette
    depths raise), BI_RGB only (RLE/bitfields raise), declared image
    size vs geometry, pixel region bounds. Supports both bottom-up
    (positive height) and top-down (negative height) row orders —
    both occur in the wild and silently flipping one is the classic
    BMP consumer bug. BMP carries NO checksum, so the corruption
    contract is the JPEG-style one (pinned in pytest): any flip
    raises or visibly changes pixels, except the documented metadata
    bytes (reserved, resolution, color counts, row padding)."""
    import struct

    import numpy as np

    b = bytes(b)
    if len(b) < _BMP_HEADER:
        raise ValueError("truncated BMP: shorter than the two headers")
    if b[:2] != b"BM":
        raise ValueError(f"not a BMP: bad magic {b[:2]!r}")
    fsize, _res, off = struct.unpack("<III", b[2:14])
    if fsize != len(b):
        raise ValueError(
            f"BMP declared file size {fsize} != actual {len(b)}"
        )
    (
        hsize, w, h, planes, bpp, comp, img_size, _xppm, _yppm,
        _clr_used, _clr_imp,
    ) = struct.unpack("<IiiHHIIiiII", b[14:54])
    if hsize != 40:
        raise ValueError(
            f"unsupported BMP variant (header size {hsize}; this "
            "decoder covers BITMAPINFOHEADER only)"
        )
    top_down = h < 0
    h = -h if top_down else h
    if w <= 0 or h == 0:
        raise ValueError(f"bad BMP geometry {w}x{h}")
    if planes != 1:
        raise ValueError(f"BMP planes must be 1, got {planes}")
    if bpp != 24:
        raise ValueError(
            f"unsupported BMP bit depth {bpp}; this decoder covers "
            "24-bit BI_RGB only (palette/16/32-bit raise)"
        )
    if comp != 0:
        raise ValueError(
            f"unsupported BMP compression {comp} (RLE/bitfields); "
            "BI_RGB only"
        )
    stride = (3 * w + 3) & ~3
    want = stride * h
    if img_size not in (0, want):  # 0 is legal for BI_RGB per spec
        raise ValueError(
            f"BMP declared image size {img_size} != geometry's {want}"
        )
    if off < _BMP_HEADER or off + want > len(b):
        raise ValueError(
            f"BMP pixel region [{off}, {off + want}) outside file "
            f"of {len(b)} bytes"
        )
    rows = np.frombuffer(b, dtype=np.uint8, count=want, offset=off)
    rows = rows.reshape(h, stride)[:, : 3 * w].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


def _lossless_roundtrip_row(doc_id, px, encode, decode, fmt: str):
    """Encode a row's text-derived 8x8 RGB pixels with a lossless
    codec, decode them back, and emit the decoded image's
    `rgb_stats_row`. Any daylight between input and decode is a codec
    bug, never acceptable drift, so it raises by name. NULL pixels ->
    all-NULL row, as in the PNG decode."""
    import numpy as np

    if px is None:
        return [(doc_id, None, None, None, None, None)]
    arr = np.frombuffer(px[:192], dtype=np.uint8).reshape(PPM_H, PPM_W, 3)
    dec = decode(encode(arr))
    if not np.array_equal(dec, arr):
        raise ValueError(f"{fmt} round-trip mismatch")
    return [rgb_stats_row(doc_id, dec)]


def bmp_roundtrip_row(doc_id, px):
    """BMP round trip: header checks, bottom-up un-flip, BGR->RGB,
    per-channel means."""
    return _lossless_roundtrip_row(doc_id, px, bmp_encode, bmp_decode, "BMP")


@query(
    "k5_bmp_decode",
    oracle="""
    WITH img AS (
      SELECT doc_id, rpad(text || ' x', 192, text || ' x') AS body
      FROM documents
    )
    SELECT doc_id,
           CAST(8 AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height,
           (SELECT AVG(ascii(substring(body, 1 + 3 * i, 1)))
            FROM UNNEST(range(64)) AS t(i)) AS mean_r,
           (SELECT AVG(ascii(substring(body, 2 + 3 * i, 1)))
            FROM UNNEST(range(64)) AS t(i)) AS mean_g,
           (SELECT AVG(ascii(substring(body, 3 + 3 * i, 1)))
            FROM UNNEST(range(64)) AS t(i)) AS mean_b
    FROM img
    """,
)
def k5_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third image codec certificate (alongside PNG and
    baseline JPEG): the same text-derived 8x8 RGB pixels as the
    PNG/PPM certs round-trip through a real 24-bit BMP — BGR channel
    order, bottom-up rows, 4-byte row padding, full header checks —
    and the kernel additionally pins decode == input byte-for-byte
    (BMP is uncompressed, so exact equality is the contract, not
    just matching means). The oracle recomputes the channel means
    straight from the text bytes and never sees a BMP, certifying
    the quirk handling (a swallowed BGR swap or row flip changes
    means and fails the hash; padded geometries and the top-down
    variant are pinned by the dedicated pytest).

    Scale shape: identical to k5_png_decode — one `map_rows`
    map-only pass, payload never shuffles, per-image work O(pixels).
    """
    d = T(spark, sf_dir, "documents")
    body = F.expr("rpad(text || ' x', 192, text || ' x')")
    src = d.select("doc_id", F.encode(body, "UTF-8").alias("pixels"))
    return map_rows(src, bmp_roundtrip_row, PPM_DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# K5 — compressed AUDIO codec #2: G.711 A-law (the E1/international
# half of the standard; mu-law above is the T1/North-American half)
# ---------------------------------------------------------------------------


def alaw_decode(codes):
    """ITU-T G.711 A-law 8-bit code -> 13-bit-domain linear PCM via
    the spec's exact integer expansion (XOR 0x55 toggle, segment /
    mantissa unpack; segment 0 is linear, higher segments double).
    Sign bit SET means positive — the opposite of mu-law, one of the
    two classic cross-codec bugs (the other is the 0x55 vs 0xFF
    toggle). Vectorized numpy, pure integer."""
    import numpy as np

    a = np.bitwise_xor(codes.astype(np.int64), 0x55)
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    t = np.where(
        seg == 0,
        t + 8,
        np.where(seg == 1, t + 0x108, (t + 0x108) << np.maximum(seg - 1, 0)),
    )
    return np.where(a & 0x80, t, -t)


def alaw_encode(pcm):
    """G.711 linear->A-law compression: arithmetic-shift to the
    13-bit domain, fold negatives (-p-1, so -1 encodes as +0's
    magnitude — A-law has no negative zero, unlike mu-law's 0x7F),
    segment search, mantissa quantize, XOR toggle. Satisfies
    encode(decode(c)) == c for ALL 256 codes exactly (pytest-pinned;
    mu-law needed its 0x7F carve-out, A-law needs none)."""
    import numpy as np

    p = pcm.astype(np.int64) >> 3
    mask = np.where(p >= 0, 0xD5, 0x55)
    p = np.where(p >= 0, p, -p - 1)
    seg = np.zeros_like(p)
    for end in (0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF):
        seg += (p > end).astype(np.int64)
    over = p > 0xFFF
    shift = np.where(seg < 2, 1, seg)
    aval = (seg << 4) | ((p >> shift) & 0x0F)
    aval = np.where(over, 0x7F, aval)
    return np.bitwise_xor(aval, mask).astype(np.uint8)


def alaw_decode_row(doc_id, p):
    """A-law stream decode; same NULL/empty contract as the mu-law
    twin."""
    if p is None:
        return [(doc_id, None, None, None, None)]
    return [(doc_id, *_g711_stats(p, alaw_decode))]


_ALAW_PCM_SQL = """list_transform(
      list_transform(range(octet_length(encode(text))),
        k -> xor(CAST(ascii(substring(text, CAST(k + 1 AS INTEGER), 1))
                 AS BIGINT), 85)),
      a -> CASE WHEN (a & 128) > 0 THEN 1 ELSE -1 END *
           CASE (a & 112) // 16
           WHEN 0 THEN (a & 15) * 16 + 8
           WHEN 1 THEN (a & 15) * 16 + 264
           ELSE ((a & 15) * 16 + 264) * (1 << ((a & 112) // 16 - 1))
           END)"""


@query(
    "k5_alaw_decode",
    oracle=f"""
    WITH pcm AS (
      SELECT doc_id,
             octet_length(encode(text)) AS nb,
             {_ALAW_PCM_SQL} AS vals
      FROM documents
    )
    SELECT doc_id,
           CAST(nb AS BIGINT) AS n_samples,
           CAST(list_sum(vals) AS BIGINT) AS sum_pcm,
           CAST(list_min(vals) AS BIGINT) AS min_pcm,
           CAST(list_max(vals) AS BIGINT) AS max_pcm
    FROM pcm
    """,
)
def k5_alaw_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second G.711 companding certificate: A-law is
    the codec every NON-North-American telephony / VoIP archive
    stores, so a media pipeline that only speaks mu-law silently
    mangles half the world's call audio. Same contract as
    k5_ulaw_decode — payload bytes are codes (all 256 are valid),
    the kernel runs the spec's exact integer expansion, the oracle
    replays the closed-form formula per byte, the hash certifies the
    decode bit-for-bit. The two codecs' classic confusion bugs
    (0x55 vs 0xFF toggle, inverted sign-bit convention) are exactly
    what the twin certificates pin against each other; the lossy
    encode half is pytest-pinned by encode(decode(c)) == c over all
    256 codes, with NO carve-out (A-law folds negative zero away,
    unlike mu-law's 0x7F).

    Scale shape: identical to the mu-law twin — one map-only
    `map_rows` pass, constant-time bit formula per sample, decode
    at scan speed."""
    m = media_table(spark, sf_dir)
    return map_rows(m.select("doc_id", "payload"), alaw_decode_row, ULAW_SCHEMA)


# ---------------------------------------------------------------------------
# K5 — GIF87a: fourth image codec, and the LZW one (PNG covers
# DEFLATE, JPEG covers DCT+Huffman, BMP covers raw — GIF adds the
# dictionary-coding family)
# ---------------------------------------------------------------------------


def _gif_lzw_encode(indices, mcs: int) -> bytes:
    """GIF-flavor LZW compress (LSB-first bit packing, variable code
    width from mcs+1 to 12, clear/end codes, dictionary reset at
    4096): the real greedy-dictionary encoder, so the decode
    certificate exercises genuine dictionary growth, code-width
    bumps, and the KwKwK case — not a degenerate literal stream."""
    # Byte-stream-identical rewrite:
    # the first cut appended 9-12 Python list items PER CODE and kept
    # the dictionary keyed on growing byte strings (an O(match_len)
    # concat+hash per pixel). Codes now pack LSB-first through an
    # integer accumulator (O(1) per code) and the dictionary is the
    # classic (prefix_code, symbol) formulation — same greedy LZW,
    # same emitted codes, same bytes out (pinned by the roundtrip
    # pytest and the k5_gif_decode oracle hash).
    clear, end = 1 << mcs, (1 << mcs) + 1
    width = mcs + 1
    out = bytearray()
    acc = 0
    accbits = 0

    def emit(code):
        nonlocal acc, accbits
        acc |= code << accbits
        accbits += width
        while accbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            accbits -= 8

    table: dict = {}
    next_code = end + 1
    emit(clear)
    w = -1  # current match's code; -1 = no pending match
    for k in indices:
        k = int(k)
        if w < 0:
            w = k  # single symbols are their own codes
            continue
        wk = table.get((w, k))
        if wk is not None:
            w = wk
            continue
        emit(w)
        table[(w, k)] = next_code
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        elif next_code > (1 << 12):
            emit(clear)
            table = {}
            next_code = end + 1
            width = mcs + 1
        w = k
    if w >= 0:
        emit(w)
    emit(end)
    if accbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_decode(data: bytes, mcs: int, max_px: int) -> bytes:
    """GIF LZW expand, LOUD: truncated stream (no end code), code
    beyond the table (the only malformation dictionary coding can
    detect), table overflow without a clear, and output larger than
    the descriptor's pixel count all raise ValueError."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    width = mcs + 1
    table = [bytes([i]) for i in range(1 << mcs)] + [b"", b""]
    out = bytearray()
    prev = None
    bitpos = 0
    nbits = len(data) * 8
    # One big-int view of the LSB-first stream: each code read is a
    # shift+mask instead of `width` per-bit Python indexings
    # (same bytes, same codes).
    stream = int.from_bytes(data, "little")
    while True:
        if bitpos + width > nbits:
            raise ValueError("LZW stream truncated (no end code)")
        code = (stream >> bitpos) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table = [bytes([i]) for i in range(1 << mcs)] + [b"", b""]
            width = mcs + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError(f"LZW first code {code} out of table")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(
                f"LZW code {code} beyond table of {len(table)}"
            )
        if len(table) > 4096:
            raise ValueError("LZW table overflow without clear code")
        out += entry
        if len(out) > max_px:
            raise ValueError(f"LZW output exceeds {max_px} pixels")
        if len(table) == (1 << width) and width < 12:
            width += 1
        prev = entry
    return bytes(out)


def gif_encode(px) -> bytes:
    """(h, w, 3) RGB uint8 -> a real GIF87a: exact palette built from
    the image's distinct colors (raises beyond 256 — GIF is a
    palette format, silent quantization would be data loss), global
    color table padded to the spec's power-of-two size, one
    full-frame image, LZW-compressed indices in 255-byte sub-blocks,
    trailer."""
    import struct

    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError(
            f"expected (h, w, 3) RGB pixels, got shape {tuple(px.shape)}"
        )
    h, w, _ = px.shape
    colors, inv = np.unique(px.reshape(-1, 3), axis=0, return_inverse=True)
    n = len(colors)
    if n > 256:
        raise ValueError(
            f"GIF cannot hold {n} distinct colors (max 256); "
            "quantize upstream, never silently here"
        )
    gct_bits = max(1, int(n - 1).bit_length()) if n > 1 else 1
    mcs = max(2, gct_bits)  # spec: LZW min code size >= 2
    flags = 0x80 | (0x07 << 4) | (gct_bits - 1)
    out = bytearray(b"GIF87a")
    out += struct.pack("<HHBBB", w, h, flags, 0, 0)
    gct = np.zeros((1 << gct_bits, 3), dtype=np.uint8)
    gct[:n] = colors
    out += gct.tobytes()
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
    out.append(mcs)
    stream = _gif_lzw_encode(inv.astype(np.uint8), mcs)
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    out.append(0x3B)
    return bytes(out)


def gif_decode(b: bytes):
    """Real GIF87a decode -> (h, w, 3) RGB uint8, LOUD on every
    malformation the container can express: magic (GIF89a raises
    NAMED — extension blocks out of scope), truncated header/palette/
    sub-blocks, missing global color table, partial-frame or
    interlaced or local-color-table images (named), bad LZW min code
    size, pixel-count mismatch, index beyond the color table, missing
    trailer, trailing garbage. GIF carries NO checksum, so the
    corruption contract is the JPEG/BMP-style one (pytest-pinned):
    any single-byte flip raises or visibly changes pixels, except
    the enumerated metadata bytes (background index, aspect ratio,
    unused LCT-size bits, pad palette entries)."""
    import struct

    import numpy as np

    b = bytes(b)
    if len(b) < 13:
        raise ValueError("truncated GIF: no header")
    if b[:6] == b"GIF89a":
        raise ValueError(
            "unsupported GIF variant GIF89a (extension blocks)"
        )
    if b[:6] != b"GIF87a":
        raise ValueError(f"not a GIF87a: magic {b[:6]!r}")
    w, h, flags, _bg, _aspect = struct.unpack("<HHBBB", b[6:13])
    if w == 0 or h == 0:
        # Zero-dimension screens would otherwise "decode" to an empty
        # array (a clear+end LZW stream satisfies every later check),
        # violating the LOUD-on-malformation contract; bmp_decode has
        # the same guard.
        raise ValueError(f"bad GIF geometry {w}x{h}")
    if not flags & 0x80:
        raise ValueError("GIF without a global color table")
    n_ent = 1 << ((flags & 0x07) + 1)
    pos = 13
    if pos + 3 * n_ent > len(b):
        raise ValueError("truncated GIF: global color table")
    palette = np.frombuffer(
        b[pos : pos + 3 * n_ent], dtype=np.uint8
    ).reshape(n_ent, 3)
    pos += 3 * n_ent
    if pos >= len(b):
        raise ValueError("truncated GIF: no image descriptor")
    if b[pos] != 0x2C:
        raise ValueError(
            f"expected image descriptor, got 0x{b[pos]:02x}"
        )
    left, top, iw, ih, iflags = struct.unpack(
        "<HHHHB", b[pos + 1 : pos + 10]
    )
    pos += 10
    if (left, top, iw, ih) != (0, 0, w, h):
        raise ValueError("partial-frame GIF unsupported")
    if iflags & 0x80:
        raise ValueError("GIF local color table unsupported")
    if iflags & 0x40:
        raise ValueError("interlaced GIF unsupported")
    if pos >= len(b):
        raise ValueError("truncated GIF: no LZW min code size")
    mcs = b[pos]
    pos += 1
    if not 2 <= mcs <= 8:
        raise ValueError(f"bad LZW min code size {mcs}")
    stream = bytearray()
    while True:
        if pos >= len(b):
            raise ValueError("truncated GIF: unterminated image data")
        ln = b[pos]
        pos += 1
        if ln == 0:
            break
        if pos + ln > len(b):
            raise ValueError("truncated GIF: short data sub-block")
        stream += b[pos : pos + ln]
        pos += ln
    if pos >= len(b) or b[pos] != 0x3B:
        raise ValueError("GIF missing trailer")
    if pos + 1 != len(b):
        raise ValueError("trailing bytes after GIF trailer")
    idx = np.frombuffer(
        _gif_lzw_decode(bytes(stream), mcs, w * h), dtype=np.uint8
    )
    if len(idx) != w * h:
        raise ValueError(f"LZW pixel count {len(idx)} != {w}x{h}")
    if int(idx.max(initial=0)) >= n_ent:
        raise ValueError("GIF pixel index beyond color table")
    return palette[idx.reshape(h, w)]


def gif_roundtrip_row(doc_id, px):
    """GIF87a round trip; pins decode == input exactly (the 64-pixel
    tile has <= 64 distinct colors, so the palette is exact and GIF
    is lossless here)."""
    return _lossless_roundtrip_row(doc_id, px, gif_encode, gif_decode, "GIF")


@query(
    "k5_gif_decode",
    oracle="""
    WITH img AS (
      SELECT doc_id, rpad(text || ' x', 192, text || ' x') AS body
      FROM documents
    )
    SELECT doc_id,
           CAST(8 AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height,
           (SELECT AVG(ascii(substring(body, 1 + 3 * i, 1)))
            FROM UNNEST(range(64)) AS t(i)) AS mean_r,
           (SELECT AVG(ascii(substring(body, 2 + 3 * i, 1)))
            FROM UNNEST(range(64)) AS t(i)) AS mean_g,
           (SELECT AVG(ascii(substring(body, 3 + 3 * i, 1)))
            FROM UNNEST(range(64)) AS t(i)) AS mean_b
    FROM img
    """,
)
def k5_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth image-codec certificate, closing the
    dictionary-coding family: the same text-derived 8x8 tile as the
    PNG/BMP/PPM certs round-trips through a real GIF87a — exact
    palette construction, power-of-two global color table, and a
    REAL LZW compressor/expander pair (variable code width, clear
    codes, dictionary cap, the KwKwK self-reference case — all
    pytest-pinned on crafted streams). The kernel pins decode ==
    input exactly; the oracle recomputes the channel means from the
    text bytes and never sees a GIF, so the hash certifies palette +
    LZW + container end-to-end.

    Scale shape: identical to the other image certs — one map-only
    `map_rows` pass, payload never shuffles, per-image cost
    O(pixels) (LZW is linear-time)."""
    d = T(spark, sf_dir, "documents")
    body = F.expr("rpad(text || ' x', 192, text || ' x')")
    src = d.select("doc_id", F.encode(body, "UTF-8").alias("pixels"))
    return map_rows(src, gif_roundtrip_row, PPM_DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# K5 — WebDataset shard (ustar): the multimodal TRAINING container —
# tar shards of same-key (sample.txt, sample.img) pairs, the layout
# large image-text training runs stream from object storage
# ---------------------------------------------------------------------------

WDS_N_SHARDS = 16


def _tar_header(name: str, size: int) -> bytes:
    """One POSIX ustar 512-byte header: octal size field, the spec's
    checksum (sum of header bytes with the checksum field read as
    spaces — tar's only integrity device, so the parser MUST verify
    it), typeflag '0', magic 'ustar\\0' + version '00'."""
    h = bytearray(512)
    nb = name.encode("ascii")
    if len(nb) > 100:
        raise ValueError(f"tar member name over 100 bytes: {name!r}")
    h[0 : len(nb)] = nb
    h[100:108] = b"0000644\x00"           # mode
    h[108:116] = b"0000000\x00"           # uid
    h[116:124] = b"0000000\x00"           # gid
    h[124:136] = ("%011o" % size).encode() + b"\x00"
    h[136:148] = ("%011o" % 0).encode() + b"\x00"  # mtime: fixed
    h[148:156] = b" " * 8                  # chksum placeholder
    h[156] = ord("0")                      # regular file
    h[257:263] = b"ustar\x00"
    h[263:265] = b"00"
    chk = sum(h)
    h[148:156] = ("%06o" % chk).encode() + b"\x00 "
    return bytes(h)


def tar_pack(members) -> bytes:
    """[(name, bytes)] -> a ustar archive: header + 512-padded
    content per member, two zero blocks at the end (stdlib-tarfile
    readable — pinned by pytest)."""
    out = bytearray()
    for name, data in members:
        out += _tar_header(name, len(data))
        out += data
        if len(data) % 512:
            out += b"\x00" * (512 - len(data) % 512)
    out += b"\x00" * 1024
    return bytes(out)


def tar_unpack(blob: bytes):
    """Walk a ustar archive LOUDLY, yielding (name, bytes) in
    archive order: every header's checksum is verified (a flipped
    header byte raises), octal fields must parse, only regular-file
    members are supported (directories/links raise NAMED), the
    archive must end with two zero blocks and nothing but zero
    padding after them."""
    blob = bytes(blob)
    if len(blob) % 512:
        raise ValueError(f"tar length {len(blob)} not block-aligned")
    pos = 0
    while True:
        if pos + 512 > len(blob):
            raise ValueError("tar truncated: no terminator blocks")
        h = blob[pos : pos + 512]
        if h == b"\x00" * 512:
            if blob[pos + 512 : pos + 1024] != b"\x00" * 512:
                raise ValueError("tar missing second terminator block")
            if blob[pos + 1024 :].strip(b"\x00"):
                raise ValueError("non-zero bytes after tar terminator")
            return
        if h[257:263] != b"ustar\x00":
            raise ValueError(f"bad ustar magic {h[257:263]!r}")
        declared = h[148:156]
        try:
            chk = int(declared.rstrip(b"\x00 ").lstrip(), 8)
        except ValueError as exc:
            raise ValueError("unparseable tar checksum field") from exc
        actual = sum(h) - sum(declared) + 8 * ord(" ")
        if chk != actual:
            raise ValueError(
                f"tar header checksum mismatch ({chk} != {actual})"
            )
        if h[156] not in (ord("0"), 0):
            raise ValueError(
                f"unsupported tar member type {chr(h[156])!r} "
                "(directories/links out of scope)"
            )
        name = h[:100].rstrip(b"\x00").decode("ascii")
        try:
            size = int(h[124:136].rstrip(b"\x00 "), 8)
        except ValueError as exc:
            raise ValueError("unparseable tar size field") from exc
        data = blob[pos + 512 : pos + 512 + size]
        if len(data) != size:
            raise ValueError(f"tar member {name!r} truncated")
        yield name, data
        pos += 512 + size
        if size % 512:
            pos += 512 - size % 512


WDS_SCHEMA = (
    "doc_id long, shard_id long, sample_index long, txt_chars bigint, "
    "txt_digest string, img_w bigint, img_h bigint, pixel_digest string"
)


def _wds_assemble(pdf):
    """Grouped shard writer: per doc (doc_id order) the WebDataset
    pair {key}.txt (UTF-8 text) + {key}.img (the REAL PNG of the
    text-derived tile) — same-key members adjacent, the wds layout
    contract the parser enforces."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("doc_id")
    members = []
    for doc_id, text, px in zip(pdf["doc_id"], pdf["text"], pdf["pixels"]):
        if text is None:
            continue
        key = f"{int(doc_id):08d}"
        members.append((f"{key}.txt", text.encode("utf-8")))
        members.append(
            (
                f"{key}.img",
                png_encode_rgb(
                    np.frombuffer(bytes(px)[:192], dtype=np.uint8).reshape(
                        PPM_H, PPM_W, 3
                    )
                ),
            )
        )
    return pd.DataFrame(
        {
            "shard_id": [int(pdf["shard_id"].iloc[0])],
            "shard": [tar_pack(members)],
        }
    )


def wds_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(shard_id, shard) — the WebDataset corpus; the groupBy is the
    synthesis stand-in shuffle (a real run READS shards, one whole
    file per task, zero shuffle — the same posture as warc_files)."""
    d = T(spark, sf_dir, "documents")
    body = F.expr("rpad(text || ' x', 192, text || ' x')")
    docs = d.select(
        "doc_id",
        "text",
        F.encode(body, "UTF-8").alias("pixels"),
        (F.col("doc_id") % WDS_N_SHARDS).alias("shard_id"),
    )
    return docs.groupBy("shard_id").applyInPandas(
        _wds_assemble, "shard_id long, shard binary"
    )


def wds_sample_rows(shard_id, blob):
    """Shard parse: ustar walk (checksums verified) -> enforce the
    WebDataset pairing contract (members arrive as adjacent same-key
    .txt/.img pairs — the property streaming loaders rely on; any
    stray, misordered, or odd member raises) -> decode the PNG half,
    digest both halves. One shard row fans out to one row per
    sample."""
    import hashlib

    members = list(tar_unpack(blob))
    if len(members) % 2:
        raise ValueError(f"shard {shard_id}: odd member count {len(members)}")
    for idx in range(0, len(members), 2):
        (tname, tdata), (iname, idata) = members[idx], members[idx + 1]
        tkey, tdot, text_ext = tname.partition(".")
        ikey, idot, img_ext = iname.partition(".")
        if (text_ext, img_ext) != ("txt", "img") or tkey != ikey:
            raise ValueError(f"WebDataset pairing violation: {tname!r} / {iname!r}")
        px = png_decode_rgb(idata)
        yield (
            int(tkey),
            shard_id,
            idx // 2,
            len(tdata.decode("utf-8")),
            hashlib.md5(tdata).hexdigest(),
            px.shape[1],
            px.shape[0],
            hashlib.md5(px.tobytes()).hexdigest(),
        )


@query(
    "k5_webdataset_shard",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text,
             rpad(text || ' x', 192, text || ' x') AS body
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
           doc_id % {WDS_N_SHARDS} AS shard_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY doc_id % {WDS_N_SHARDS} ORDER BY doc_id
           ) - 1 AS BIGINT) AS sample_index,
           CAST(LENGTH(text) AS BIGINT) AS txt_chars,
           md5(text) AS txt_digest,
           CAST(8 AS BIGINT) AS img_w,
           CAST(8 AS BIGINT) AS img_h,
           md5(body) AS pixel_digest
    FROM d
    """,
)
def k5_webdataset_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset shard round-trip (the TRAINING-side
    container, closing the loop the WARC cert opened on the
    ingestion side): each doc becomes the standard same-key
    (.txt, .img) pair, packed in doc order into real ustar shards
    (stdlib-tarfile-compatible, pytest-pinned), and the parser walks
    them back verifying every header checksum, the pairing contract,
    and the PNG payload through the certified decoder. The oracle
    recomputes every fact from plaintext (text md5; pixel md5 of the
    tile bytes the PNG must decode back to; row_number pairing
    order), so the hash certifies pack -> checksum -> pair -> decode
    end-to-end lossless.

    100 TB design: the groupBy is the synthesis stand-in (a trainer
    READS shards — one whole file per task, zero shuffle, sequential
    I/O; that streaming-friendliness is the entire reason WebDataset
    exists); parse + decode is one map-only `map_rows` pass, a
    shard never leaves the executor that read it."""
    return map_rows(wds_shards(spark, sf_dir), wds_sample_rows, WDS_SCHEMA)


# ---------------------------------------------------------------------------
# K5 — WAV + G.711: container-driven codec DISPATCH (fmt tag 7 ->
# mu-law, 6 -> A-law), composing the RIFF walk with both companders
# ---------------------------------------------------------------------------

WAV_G711_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fmt_tag", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("bits", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("sum_pcm", LongType()),
        StructField("min_pcm", LongType()),
        StructField("max_pcm", LongType()),
    ]
)


def wav_g711_row(doc_id, p):
    """Encode a payload as a real G.711 WAV (even doc_ids fmt 7 /
    mu-law, odd fmt 6 / A-law), parse it back with the RIFF chunk
    walker, and DISPATCH the decoder on the container's fmt tag —
    the decision a real audio pipeline makes per file. An unknown
    tag raises NAMED (pytest-pinned), because the wrong-compander
    failure mode is silent garbage, never an error. A NULL payload
    still has the container constants (the oracle emits them
    unconditionally, as in k5_wav_decode); its PCM stats go NULL."""
    tag = 7 if doc_id % 2 == 0 else 6
    if p is None:
        return [(doc_id, tag, WAV_RATE, WAV_BITS, None, None, None, None)]
    fmt_tag, rate, _channels, bits, data = _parse_wav(_build_wav(p, fmt_tag=tag))
    if fmt_tag == 7:
        decode = ulaw_decode
    elif fmt_tag == 6:
        decode = alaw_decode
    else:
        raise ValueError(
            f"no decoder for WAV fmt tag {fmt_tag} "
            "(1=PCM handled by k5_wav_decode; 6/7=G.711)"
        )
    return [(doc_id, fmt_tag, rate, bits, *_g711_stats(data, decode))]


@query(
    "k5_wav_g711_decode",
    oracle=f"""
    WITH pcm AS (
      SELECT doc_id,
             octet_length(encode(text)) AS nb,
             CASE WHEN doc_id % 2 = 0
                  THEN {_ULAW_PCM_SQL}
                  ELSE {_ALAW_PCM_SQL}
             END AS vals
      FROM documents
    )
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 7 ELSE 6 END AS INTEGER)
             AS fmt_tag,
           CAST({WAV_RATE} AS INTEGER) AS sample_rate,
           CAST({WAV_BITS} AS INTEGER) AS bits,
           CAST(nb AS BIGINT) AS n_samples,
           CAST(list_sum(vals) AS BIGINT) AS sum_pcm,
           CAST(list_min(vals) AS BIGINT) AS min_pcm,
           CAST(list_max(vals) AS BIGINT) AS max_pcm
    FROM pcm
    """,
)
def k5_wav_g711_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-driven codec dispatch (the composition
    that makes the two G.711 certs OPERATIONAL): a mixed corpus of
    real G.711 WAV files (even docs mu-law fmt 7, odd docs A-law
    fmt 6) flows through the RIFF chunk walker, and the kernel picks
    the compander from the container's fmt tag — exactly how a real
    telephony/VoIP archive pass works, and exactly where the silent
    wrong-compander bug lives (both decoders accept all 256 codes,
    so only a certificate that crosses container and codec can catch
    a swapped dispatch). The oracle replays the per-format closed
    forms keyed by the same doc parity, so the hash certifies walk +
    tag + dispatch + expansion end-to-end; an unknown fmt tag raises
    NAMED rather than guessing.

    Scale shape: one map-only `map_rows` pass, same as every K5
    audio cert."""
    m = media_table(spark, sf_dir)
    return map_rows(m.select("doc_id", "payload"), wav_g711_row, WAV_G711_SCHEMA)
