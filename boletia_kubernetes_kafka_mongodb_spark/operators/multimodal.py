"""Multimodal column plumbing (SURVEY.md §2.9): binary payloads + metadata.

Media items are opaque ``binary`` columns with a typed metadata struct —
the layout a 100 TB media corpus uses (payload bytes or object-store
pointers + schema-checked metadata). The Spark-side plumbing (schemas,
``mapInPandas`` batch shape, partition sizing) is real and tested. Two
codec paths decode END-TO-END with stdlib only: RIFF/WAVE (round 4:
chunk-walk parse) and PNG (round 5: CRC-validated chunk walk + zlib
inflate + scanline unfilter); jpeg/webp/video decode needs libjpeg/ffmpeg,
absent in this container, so those formats keep the deterministic
identity fake behind ``NotImplementedError`` in ``decode_media`` (mandate:
stub what can't run, make the plumbing real).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import tables

FORMATS = ("png", "jpeg", "webp")

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("payload", BinaryType(), True),
        StructField("media_format", StringType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("media_format", StringType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("decoder", StringType(), True),
        StructField("feat_mean_byte", LongType(), True),
        StructField("feat_head_sum", LongType(), True),
    ]
)

# canonical 44-byte PCM WAV header: RIFF size and data size are the two
# computed fields; everything between is static (16-byte fmt chunk,
# PCM/mono/8kHz/8-bit)
_WAV_STATIC_FMT = (
    (16).to_bytes(4, "little")      # fmt chunk size
    + (1).to_bytes(2, "little")     # audio format: PCM
    + (1).to_bytes(2, "little")     # channels: mono
    + (8000).to_bytes(4, "little")  # sample rate
    + (8000).to_bytes(4, "little")  # byte rate (mono 8-bit)
    + (1).to_bytes(2, "little")     # block align
    + (8).to_bytes(2, "little")     # bits per sample
)


def _le_bytes(col, width: int):
    """Little-endian unsigned integer → binary, as a native Column
    expression (hex → byte-pair reversal → unhex): the WAV container's two
    length fields, built JVM-side so payload synthesis never leaves
    codegen. Values must fit ``width`` bytes (lpad would TRUNCATE longer
    hex) — inherently satisfied here: RIFF's size fields are 32-bit by
    spec, capping any legal WAV at 4 GiB."""
    hx = F.lpad(F.hex(col.cast("long")), width * 2, "0")
    parts = [F.substring(hx, 2 * i + 1, 2) for i in reversed(range(width))]
    return F.unhex(F.concat(*parts))


PNG_SIG = b"\x89PNG\r\n\x1a\n"
PNG_GRID_W = 16  # grayscale image width: pixels = text bytes row-majored


def _zlib_store(data: bytes) -> bytes:
    """A conformant zlib stream of STORED (uncompressed) deflate blocks.

    Hand-built instead of ``zlib.compress(data, 0)`` because the container
    size must follow an exact closed-form law the SQL oracle can state:
    zlib's own level-0 encoder splits blocks at an internal buffer bound
    (65531/65535 mix — measured: len 65535 emits two blocks), while this
    writer always emits ``max(ceil(len/65535), 1)`` maximal blocks, giving
    ``len(stream) == 6 + 5*max(ceil(len/65535), 1) + len`` at ANY input
    size — the ``max(·, 1)`` term because ``len == 0`` still emits one
    empty stored block (11 bytes total; unreachable via ``encode_png``,
    whose streams are ≥ 17 bytes, but the law must hold for any caller).
    ``zlib.decompress`` accepts it verbatim (stored blocks + adler32 are
    core spec), so the DECODE side still exercises the real inflater.
    """
    import zlib

    out = [b"\x78\x01"]  # CMF/FLG: deflate, 32K window, check bits
    n = len(data)
    blocks = max((n + 65534) // 65535, 1)
    for i in range(blocks):
        chunk = data[i * 65535 : (i + 1) * 65535]
        final = 1 if i == blocks - 1 else 0
        ln = len(chunk)
        out.append(
            bytes([final])
            + ln.to_bytes(2, "little")
            + (ln ^ 0xFFFF).to_bytes(2, "little")
            + chunk
        )
    out.append(zlib.adler32(data).to_bytes(4, "big"))
    return b"".join(out)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (
        len(data).to_bytes(4, "big")
        + ctype
        + data
        + zlib.crc32(ctype + data).to_bytes(4, "big")
    )


def encode_png(data: bytes) -> bytes:
    """A minimal REAL grayscale PNG whose pixels are ``data`` row-majored
    into a ``PNG_GRID_W``-wide image (last row zero-padded): Sub-filtered
    scanlines (filter type 1 — the decoder must genuinely unfilter, not
    just strip a byte), stored-block zlib IDAT (`_zlib_store` — exact size
    law for the oracle), CRC32 on every chunk. Any spec-conformant PNG
    reader decodes it; this environment's reader is ``decode_png``.

    Container size is closed-form: with n = len(data), H = max(ceil(n/16),
    1), slen = H*(16+1): 8 sig + 25 IHDR + 12 IDAT framing + (6 +
    5*ceil(slen/65535) + slen) zlib + 12 IEND.
    """
    w = PNG_GRID_W
    h = max((len(data) + w - 1) // w, 1)
    padded = data + b"\x00" * (w * h - len(data))
    scanlines = bytearray()
    for r in range(h):
        row = padded[r * w : (r + 1) * w]
        # Sub filter: delta[i] = pixel[i] - pixel[i-1] (mod 256)
        scanlines.append(1)
        prev = 0
        for px in row:
            scanlines.append((px - prev) & 0xFF)
            prev = px
    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([8, 0, 0, 0, 0])  # 8-bit, grayscale, deflate, adaptive, no interlace
    )
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _zlib_store(bytes(scanlines)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> bytes:
    """REAL PNG decode, pure stdlib: signature + chunk walk with CRC32
    validation, zlib inflate of the IDAT stream, per-scanline unfilter
    (None/Sub — the filters this engine's encoder emits; anything else
    fails loudly). Returns the raw grayscale pixel bytes (width*height,
    including any encoder padding). Malformed containers raise."""
    import zlib

    if len(payload) < 8 or payload[:8] != PNG_SIG:
        raise ValueError("decode_png: not a PNG signature")
    pos, w, h, idat, ended = 8, None, None, [], False
    while pos + 12 <= len(payload):
        ln = int.from_bytes(payload[pos : pos + 4], "big")
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        if len(data) != ln:
            raise ValueError("decode_png: chunk overruns container")
        crc = int.from_bytes(payload[pos + 8 + ln : pos + 12 + ln], "big")
        if zlib.crc32(ctype + data) != crc:
            raise ValueError(f"decode_png: CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            w = int.from_bytes(data[0:4], "big")
            h = int.from_bytes(data[4:8], "big")
            if data[8] != 8 or data[9] != 0:
                raise ValueError("decode_png: only 8-bit grayscale supported")
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            ended = True
            break
        pos += 12 + ln
    if w is None or not idat or not ended:
        raise ValueError("decode_png: missing IHDR/IDAT/IEND")
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (w + 1):
        raise ValueError("decode_png: scanline stream length mismatch")
    out = bytearray()
    for r in range(h):
        line = raw[r * (w + 1) : (r + 1) * (w + 1)]
        ftype, row = line[0], line[1:]
        if ftype == 0:
            out.extend(row)
        elif ftype == 1:  # Sub: pixel[i] = delta[i] + pixel[i-1]
            prev = 0
            for d in row:
                prev = (d + prev) & 0xFF
                out.append(prev)
        else:
            raise ValueError(f"decode_png: unsupported filter type {ftype}")
    return bytes(out)


def media_table_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``media_table`` variant with two REAL container formats: doc_id % 4
    == 0 rows wrap their PCM samples (the utf-8 text bytes) in a canonical
    44-byte RIFF/WAVE container built entirely with native column
    expressions, and doc_id % 4 == 2 rows carry their text bytes as the
    pixels of a REAL grayscale PNG (round-5: Sub-filtered scanlines,
    stored-block zlib, per-chunk CRC32 — see ``encode_png``). The feature
    extractor's wav/png branches then run actual container parses — the
    two codec paths this environment can decode end-to-end with stdlib
    only — while remaining image rows keep the identity-fake decode per
    the stub mandate.

    The PNG synthesis needs zlib/crc32, so it runs as an Arrow batch stage
    over the JVM projection (the wav container stays pure column exprs).
    Synthesis-at-read exists only because the fixture has no real media
    files; a production corpus reads stored bytes, so this extra Arrow hop
    is fixture plumbing, not the serve path.
    """
    docs = tables.load(spark, sf_dir, "documents")
    pcm = F.encode(F.col("text"), "UTF-8")
    n = F.octet_length(pcm)
    wav = F.concat(
        F.lit(b"RIFF"),
        _le_bytes(n + 36, 4),
        F.lit(b"WAVEfmt "),
        F.lit(_WAV_STATIC_FMT),
        F.lit(b"data"),
        _le_bytes(n, 4),
        pcm,
    )
    is_wav = F.col("doc_id") % 4 == 0
    is_png = F.col("doc_id") % 4 == 2
    base = _media_projection(
        docs,
        F.when(is_wav, wav).otherwise(pcm),
        F.when(is_wav, F.lit("wav"))
        .when(is_png, F.lit("png"))
        .otherwise(_image_format_expr()),
    )

    def synth(batches: Iterator) -> Iterator:
        for pdf in batches:
            png_rows = pdf["doc_id"] % 4 == 2
            if png_rows.any():
                payloads = pdf["payload"].copy()
                nbytes = pdf["n_bytes"].copy()
                for i in pdf.index[png_rows]:
                    built = encode_png(bytes(payloads[i]))
                    payloads[i] = bytearray(built)
                    nbytes[i] = len(built)
                pdf = pdf.assign(payload=payloads, n_bytes=nbytes)
            yield pdf

    return base.mapInPandas(synth, schema=MEDIA_SCHEMA)


def _image_format_expr():
    """Deterministic image-format assignment shared by both media tables
    (and hardcoded in their oracles as
    ``['png','jpeg','webp'][(doc_id % 3 + 1)::INTEGER]``)."""
    return F.element_at(
        F.array(*[F.lit(f) for f in FORMATS]), (F.col("doc_id") % 3 + 1).cast("int")
    )


def _media_projection(docs: DataFrame, payload, media_format) -> DataFrame:
    """The ONE media-table projection (metadata exprs exist nowhere else):
    n_bytes always measures the actual payload, width/height derive from
    doc_id. Both ``media_table`` variants are this with different payload /
    format expressions."""
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        media_format.alias("media_format"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        (F.col("doc_id") % 640 + 16).cast("long").alias("width"),
        (F.col("doc_id") * 7 % 480 + 16).cast("long").alias("height"),
    )


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` → media table: binary payload + typed metadata.

    Payload = utf-8 bytes of the text (the deterministic stand-in for real
    image bytes); metadata derived deterministically so the oracle can check
    the plumbing end-to-end.
    """
    docs = tables.load(spark, sf_dir, "documents")
    return _media_projection(
        docs, F.encode(F.col("text"), "UTF-8"), _image_format_expr()
    )


def decode_wav(payload: bytes) -> bytes:
    """REAL WAV decode: validate the RIFF/WAVE container and walk its
    chunks to the ``data`` payload (word-aligned per the RIFF spec). Pure
    stdlib — the one codec path this environment exercises end-to-end
    (round-4 verdict #5); malformed containers fail loudly."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("decode_wav: not a RIFF/WAVE container")
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        if cid == b"data":
            if pos + 8 + size > len(payload):
                raise ValueError("decode_wav: data chunk overruns container")
            return payload[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    raise ValueError("decode_wav: no data chunk")


def decode_media(payload: bytes, media_format: str) -> bytes:
    """Decode a media payload to raw pixels/samples.

    ``wav`` decodes for REAL (stdlib RIFF parse) and so does ``png`` when
    the payload carries a genuine PNG container (stdlib zlib inflate +
    unfilter — round 5); jpeg/webp/video formats remain stubbed: their
    decode needs libjpeg/ffmpeg, not present in this environment. The
    Spark-side plumbing that calls this is real; swap the raise for the
    codec call in production.
    """
    if media_format == "wav":
        return decode_wav(payload)
    if media_format == "png" and payload[:8] == PNG_SIG:
        return decode_png(payload)
    raise NotImplementedError(
        "media decode requires a codec library (libjpeg/ffmpeg)"
    )


def extract_features(spark: SparkSession, media: DataFrame) -> DataFrame:
    """Feature extraction over binary payloads via ``mapInPandas``.

    The real Arrow path: payload bytes stream per-batch into pandas, a
    per-format decode runs (``wav`` → REAL RIFF container parse; ``png``
    with a genuine PNG signature → REAL zlib inflate + scanline unfilter
    (round 5); remaining image formats → identity fake per the stub
    mandate, standing where libjpeg would run), a vectorized feature fold
    follows (byte statistics standing in for a CNN/fft), and a typed frame
    streams back. The ``decoder`` output column records which branch each
    row took, so the driver's hash check pins that wav/png rows really
    went through the parsers.

    The closure calls the module's ``decode_media``, whose
    ``NotImplementedError`` (no codec for the format) selects the identity
    fake: the package is pickled by value (see the package ``__init__``),
    so workers that cannot import it still receive both parsers with the
    closure.
    """

    def featurize(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            feats_mean = []
            feats_head = []
            decoders = []
            for payload, fmt in zip(pdf["payload"], pdf["media_format"]):
                pb = bytes(payload)
                try:
                    raw_b = decode_media(pb, fmt)
                    decoders.append(fmt)
                except NotImplementedError:
                    raw_b = pb  # identity fake (stub mandate)
                    decoders.append("identity")
                raw = np.frombuffer(raw_b, dtype=np.uint8)
                feats_mean.append(int(raw.mean()) if raw.size else 0)
                feats_head.append(int(raw[:16].sum()) if raw.size else 0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_format": pdf["media_format"],
                    "n_bytes": pdf["n_bytes"],
                    "decoder": decoders,
                    "feat_mean_byte": feats_mean,
                    "feat_head_sum": feats_head,
                }
            )

    return media.mapInPandas(featurize, schema=FEATURE_SCHEMA)


RESIZE_BOX = 224          # fit-within box (the CNN-input convention)
FRAME_BYTES = 32          # fake container: fixed-size frames
FRAME_STRIDE = 4          # sample every 4th frame
MAX_FRAMES = 8            # cap per video

RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("dims_source", StringType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("out_width", LongType(), True),
        StructField("out_height", LongType(), True),
        StructField("out_bytes", LongType(), True),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_frames", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("frame_md5", StringType(), False),
    ]
)


def resize_media(media: DataFrame) -> DataFrame:
    """Aspect-preserving downscale-to-fit via ``mapInPandas``.

    Input dimensions come from the payload itself when it is a REAL PNG —
    the IHDR width/height fields, CRC-validated (round 5: a resize stage
    cannot trust catalog metadata for stored images; it reads the header) —
    and from the metadata columns otherwise; the ``dims_source`` output
    column records which (so the driver hash pins that png rows really
    parsed their header). The dimension math is all-integer (``d·BOX //
    max(w,h)``, no float rounding ambiguity across engines) and stands
    where the pixel kernel (cv2.resize / PIL thumbnail) would run — that
    kernel needs a codec library this container lacks (stub mandate), but
    the batch shape, header parse, vectorized numpy arithmetic, and schema
    are exactly the real op's. Upscaling is never performed (images
    already inside the box pass through).
    """

    def fold(batches: Iterator) -> Iterator:
        import zlib

        import numpy as np
        import pandas as pd

        box = RESIZE_BOX

        def ihdr_dims(p: bytes):
            # signature + first chunk must be IHDR per the PNG spec; CRC
            # validated so a corrupt header fails loudly, not as garbage dims
            if len(p) < 33 or p[12:16] != b"IHDR":
                raise ValueError("resize: PNG without leading IHDR")
            ln = int.from_bytes(p[8:12], "big")
            data = p[16 : 16 + ln]
            crc = int.from_bytes(p[16 + ln : 20 + ln], "big")
            if ln != 13 or zlib.crc32(b"IHDR" + data) != crc:
                raise ValueError("resize: corrupt IHDR chunk")
            return (
                int.from_bytes(data[0:4], "big"),
                int.from_bytes(data[4:8], "big"),
            )

        for pdf in batches:
            w = pdf["width"].to_numpy(dtype=np.int64).copy()
            h = pdf["height"].to_numpy(dtype=np.int64).copy()
            src = np.full(len(pdf), "meta", dtype=object)
            for i, (payload, fmt) in enumerate(
                zip(pdf["payload"], pdf["media_format"])
            ):
                pb = bytes(payload) if payload is not None else b""
                # BOTH gates (round-5 ADVICE): declared format AND the
                # signature — an arbitrary non-png binary payload that
                # happens to start with \x89PNG must not have its dims
                # hijacked (or fail) on a header parse it never had
                if fmt == "png" and pb[:8] == PNG_SIG:
                    w[i], h[i] = ihdr_dims(pb)
                    src[i] = "png-ihdr"
            m = np.maximum(w, h)
            need = m > box
            ow = np.where(need, np.maximum(w * box // np.maximum(m, 1), 1), w)
            oh = np.where(need, np.maximum(h * box // np.maximum(m, 1), 1), h)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "dims_source": src,
                    "width": w,
                    "height": h,
                    "out_width": ow,
                    "out_height": oh,
                    "out_bytes": ow * oh * 3,  # RGB8 output buffer size
                }
            )

    return media.select(
        "doc_id", "payload", "media_format", "width", "height"
    ).mapInPandas(fold, schema=RESIZE_SCHEMA)


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame sampling over binary payloads via ``mapInPandas`` (1 row in →
    k rows out, the video-pipeline batch shape).

    The fake container format is fixed-size frames of ``FRAME_BYTES``; real
    demuxing (ffmpeg) is the stubbed part. Every ``FRAME_STRIDE``-th frame
    is taken up to ``MAX_FRAMES`` per video, and each sampled frame emits
    its md5 fingerprint — bytes stay executor-side; only (idx, digest) rows
    come out, which is how a 100 TB video corpus samples frames without
    ever shuffling pixel data.
    """

    def fold(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        fb, stride, cap = FRAME_BYTES, FRAME_STRIDE, MAX_FRAMES
        for pdf in batches:
            out_id, out_n, out_idx, out_md5 = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                n_frames = len(raw) // fb
                for k, idx in enumerate(range(0, n_frames, stride)):
                    if k >= cap:
                        break
                    frame = raw[idx * fb : idx * fb + fb]
                    out_id.append(int(doc_id))
                    out_n.append(n_frames)
                    out_idx.append(idx)
                    out_md5.append(hashlib.md5(frame).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": out_id,
                    "n_frames": out_n,
                    "frame_idx": out_idx,
                    "frame_md5": out_md5,
                }
            )

    return media.select("doc_id", "payload").mapInPandas(fold, schema=FRAME_SCHEMA)


def ext_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked query: the resize plumbing over the mixed media table
    (round 5): doc_id % 4 == 2 rows are REAL PNGs whose input dimensions
    come from their CRC-validated IHDR header (``dims_source='png-ihdr'``
    pins the parse in the driver hash); all other rows use catalog
    metadata dims."""
    return resize_media(media_table_mixed(spark, sf_dir))


def ext_multimodal_resize_oracle() -> str:
    # png rows re-derive the encoder's geometry: width = the fixed 16-px
    # grid, height = ceil(n/16) scanlines (encode_png's documented law) —
    # the oracle states what the IHDR must CONTAIN, so a resize stage that
    # didn't really parse the header could not hash-match
    b, w = RESIZE_BOX, PNG_GRID_W
    return f"""
        SELECT doc_id, dims_source, width, height,
               CAST(CASE WHEN m > {b} THEN GREATEST(width * {b} // m, 1) ELSE width END AS BIGINT) AS out_width,
               CAST(CASE WHEN m > {b} THEN GREATEST(height * {b} // m, 1) ELSE height END AS BIGINT) AS out_height,
               CAST((CASE WHEN m > {b} THEN GREATEST(width * {b} // m, 1) ELSE width END)
                    * (CASE WHEN m > {b} THEN GREATEST(height * {b} // m, 1) ELSE height END)
                    * 3 AS BIGINT) AS out_bytes
        FROM (
            SELECT doc_id,
                   CASE WHEN doc_id % 4 = 2 THEN 'png-ihdr' ELSE 'meta' END AS dims_source,
                   CAST(CASE WHEN doc_id % 4 = 2 THEN {w}
                             ELSE doc_id % 640 + 16 END AS BIGINT) AS width,
                   CAST(CASE WHEN doc_id % 4 = 2
                             THEN GREATEST((octet_length(encode(text)) + {w - 1}) // {w}, 1)
                             ELSE doc_id * 7 % 480 + 16 END AS BIGINT) AS height,
                   CASE WHEN doc_id % 4 = 2
                        THEN GREATEST({w}, GREATEST((octet_length(encode(text)) + {w - 1}) // {w}, 1))
                        ELSE GREATEST(doc_id % 640 + 16, doc_id * 7 % 480 + 16) END AS m
            FROM documents
        )
    """


def ext_multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked query: frame sampling over the media table.

    The fake payload is the document's utf-8 bytes (ASCII — verified), so
    each frame's md5 is SQL-expressible as ``md5(substr(text, ...))`` and
    the driver hash-checks the whole demux→sample→fingerprint round-trip.
    """
    return sample_frames(media_table(spark, sf_dir))


def ext_multimodal_framesample_oracle() -> str:
    fb, stride, cap = FRAME_BYTES, FRAME_STRIDE, MAX_FRAMES
    return f"""
        SELECT doc_id,
               CAST(n_frames AS BIGINT) AS n_frames,
               CAST(frame_idx AS BIGINT) AS frame_idx,
               md5(substr(text, frame_idx * {fb} + 1, {fb})) AS frame_md5
        FROM (
            SELECT doc_id, text,
                   octet_length(encode(text)) // {fb} AS n_frames,
                   unnest(generate_series(0,
                       LEAST(octet_length(encode(text)) // {fb} - 1,
                             {stride * (cap - 1)}),
                       {stride})) AS frame_idx
            FROM documents
            WHERE octet_length(encode(text)) >= {fb}
        )
    """


def ext_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked query: media metadata projection (payload dropped).

    Checks the binary-column plumbing (encode → octet_length → typed
    metadata) against plain SQL; the payload itself never reaches the
    driver — at scale you project metadata without touching bytes (column
    pruning keeps the binary column out of the scan entirely).
    """
    return media_table(spark, sf_dir).select(
        "doc_id", "media_format", "n_bytes", "width", "height"
    )


def ext_multimodal_meta_oracle() -> str:
    return """
        SELECT doc_id,
               ['png','jpeg','webp'][(doc_id % 3 + 1)::INTEGER] AS media_format,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               CAST(doc_id % 640 + 16 AS BIGINT) AS width,
               CAST(doc_id * 7 % 480 + 16 AS BIGINT) AS height
        FROM documents
    """


def ext_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked query: the mapInPandas feature-extraction path, with
    every 4th row a REAL WAV container (round-4 verdict #5) and every
    doc_id % 4 == 2 row a REAL PNG (round-5 verdict #2).

    wav rows run the actual RIFF parse; png rows run an actual PNG decode
    (chunk walk + CRC32 + zlib inflate + Sub-filter reconstruction);
    remaining image rows keep the identity fake. Decoded bytes == the
    document's utf-8 bytes by construction (png: zero-padded to the 16-wide
    pixel grid), so the features stay SQL-expressible and the driver
    hash-checks the entire synth → decode → featurize round-trip: the
    ``decoder`` column pins which parser ran, ``n_bytes`` pins the
    container overhead (wav: +44; png: the closed-form chunk+zlib size),
    and png's ``feat_mean_byte`` divides by the PADDED pixel count — a
    decoder that skipped the real unfilter/pad path could not match.
    """
    return extract_features(spark, media_table_mixed(spark, sf_dir))


def ext_multimodal_features_oracle() -> str:
    # mean over uint8 bytes == floor(sum/len): numpy .mean() + int() truncates
    # the same way for non-negative values. Text is ASCII (verified) so
    # per-char ord == per-byte value. wav rows carry the 44-byte container
    # overhead in n_bytes; png rows carry the closed-form PNG size
    # (8 sig + 25 IHDR + 12 IDAT framing + 12 IEND = 57, plus the zlib
    # stream 6 + 5*ceil(slen/65535) + slen where slen = 17*ceil(n/16)
    # scanline bytes — encode_png's documented law) and their pixel stats
    # divide by the padded grid size 16*ceil(n/16). Feature stats are over
    # the DECODED bytes, which equal the raw text bytes (+ zero pad for
    # png: head/sum unaffected, mean divisor grows to the grid).
    return """
        WITH geom AS (
            SELECT doc_id,
                   octet_length(encode(text)) AS n,
                   GREATEST((octet_length(encode(text)) + 15) // 16, 1) AS gh
            FROM documents
        )
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 4 = 0 THEN 'wav'
                    WHEN d.doc_id % 4 = 2 THEN 'png'
                    ELSE ['png','jpeg','webp'][(d.doc_id % 3 + 1)::INTEGER]
               END AS media_format,
               CAST(CASE WHEN d.doc_id % 4 = 0 THEN g.n + 44
                         WHEN d.doc_id % 4 = 2
                         THEN 63 + 5 * ((17 * g.gh + 65534) // 65535) + 17 * g.gh
                         ELSE g.n END AS BIGINT) AS n_bytes,
               CASE WHEN d.doc_id % 4 = 0 THEN 'wav'
                    WHEN d.doc_id % 4 = 2 THEN 'png'
                    ELSE 'identity' END AS decoder,
               CAST(CASE WHEN d.doc_id % 4 = 2 THEN s.byte_sum // (16 * g.gh)
                         ELSE s.byte_sum // s.n END AS BIGINT) AS feat_mean_byte,
               CAST(h.head_sum AS BIGINT) AS feat_head_sum
        FROM documents d
        JOIN geom g ON d.doc_id = g.doc_id
        JOIN (SELECT doc_id, SUM(ord(ch)) AS byte_sum, COUNT(*) AS n
              FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
              GROUP BY doc_id) s ON d.doc_id = s.doc_id
        JOIN (SELECT doc_id, SUM(ord(ch)) AS head_sum
              FROM (SELECT doc_id, unnest(string_split(substr(text, 1, 16), '')) AS ch
                    FROM documents)
              GROUP BY doc_id) h ON d.doc_id = h.doc_id
    """


def ext_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact byte-level dedup over the binary payload column — the first
    pass every media corpus runs (identical files re-crawled under
    different ids are the bulk of image-corpus waste). Dedup key = md5 of
    the raw payload bytes, computed JVM-side; the bytes themselves never
    shuffle — only (hash, doc_id, n_bytes) rows move, which is what keeps
    this viable when payloads average megabytes.

    Emits one row per duplicated payload group: canonical (min-id) doc,
    copy count, and the bytes reclaimed by keeping one copy.
    """
    media = media_table(spark, sf_dir)
    return (
        media.select(F.md5("payload").alias("payload_md5"), "doc_id", "n_bytes")
        .groupBy("payload_md5")
        .agg(
            F.min("doc_id").cast("long").alias("canonical_doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.max("n_bytes").cast("long").alias("payload_bytes"),
        )
        .where(F.col("n_copies") > 1)
        .select(
            "payload_md5",
            "canonical_doc_id",
            "n_copies",
            "payload_bytes",
            ((F.col("n_copies") - 1) * F.col("payload_bytes")).alias("reclaimed_bytes"),
        )
    )


def ext_multimodal_dedup_oracle() -> str:
    return """
        SELECT md5(text) AS payload_md5,
               CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_copies,
               CAST(MAX(octet_length(encode(text))) AS BIGINT) AS payload_bytes,
               CAST((COUNT(*) - 1) * MAX(octet_length(encode(text))) AS BIGINT)
                   AS reclaimed_bytes
        FROM documents
        GROUP BY 1
        HAVING COUNT(*) > 1
    """


PHASH_BANDS = 4        # 4 × 16-bit bands
PHASH_MAX_HAMMING = 3  # ≤ 3 < 4 bands ⇒ pigeonhole banding is LOSSLESS


def ext_multimodal_phash_oracle() -> str:
    """All-pairs re-derivation (banding is lossless at hamming ≤ 3 < 4
    bands): integer-exact aHash bits per payload from the hex-decoded
    bytes, hamming as a bit-list mismatch count."""
    maxh = PHASH_MAX_HAMMING
    return f"""
        WITH bytes AS (
            SELECT doc_id,
                   [CAST(concat('0x', substr(h, 2 * i - 1, 2)) AS BIGINT)
                    for i in generate_series(1, length(h) // 2)] AS bs
            FROM (SELECT doc_id, hex(encode(text)) AS h FROM documents)
        ),
        cells AS (
            SELECT doc_id, bs, len(bs) AS l, len(bs) // 64 AS k, len(bs) % 64 AS m
            FROM bytes
        ),
        stats AS (
            SELECT doc_id, l, k,
                   CASE WHEN k > 0 THEN k * (k + 1) ELSE 1 END AS dd,
                   [CASE WHEN (k + CASE WHEN j < m THEN 1 ELSE 0 END) = 0
                         THEN CAST(0 AS BIGINT)
                         ELSE CAST(list_sum(bs[j * k + LEAST(j, m) + 1 :
                                               j * k + LEAST(j, m) + k
                                               + CASE WHEN j < m THEN 1 ELSE 0 END])
                              AS BIGINT)
                    END for j in generate_series(0, 63)] AS nums,
                   [CAST(k + CASE WHEN j < m THEN 1 ELSE 0 END AS BIGINT)
                    for j in generate_series(0, 63)] AS szs
            FROM cells
        ),
        bits AS (
            SELECT doc_id,
                   CASE WHEN l = 0 THEN [CAST(0 AS BIGINT) for j in generate_series(0, 63)]
                        ELSE list_transform(
                            list_zip(nums, szs),
                            p -> CASE WHEN p[1] * 64 * dd >
                                          list_sum(list_transform(list_zip(nums, szs),
                                              q -> CASE WHEN q[2] = 0 THEN 0
                                                        ELSE q[1] * (dd // q[2]) END)) * p[2]
                                      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)
                   END AS bitsv
            FROM stats
        )
        SELECT doc_a, doc_b, hamming FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(list_sum(list_transform(list_zip(a.bitsv, b.bitsv),
                        p -> CASE WHEN p[1] != p[2] THEN 1 ELSE 0 END)) AS INTEGER) AS hamming
            FROM bits a JOIN bits b ON a.doc_id < b.doc_id
        )
        WHERE hamming <= {maxh}
    """


def ext_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup pairs over binary payloads — the image
    analogue of SimHash text dedup (aHash family: resample to a fixed grid,
    threshold against the mean, compare by Hamming distance). Catches
    re-encoded/slightly-edited media that `ext_multimodal_dedup`'s exact
    byte-md5 cannot.

    The 64-bit hash derives from the DECODED sample grid; decode is the
    deterministic fake per the stub mandate (real deployments swap in the
    codec), so the hash math, banding, and verify — the Spark-side shape —
    are all real: payload bytes never shuffle (only (doc_id, phash) rows
    move), candidates come from the same lossless 4×16-bit pigeonhole
    banding as SimHash (hamming ≤ 3 forces ≥ 1 exact band match), and the
    verify is the ``bit_count(xor)`` JVM intrinsic.

    Oracle-backed (round 3): the mean-threshold bit rule is INTEGER-EXACT
    (cell_mean_j > mean-of-cell-means cross-multiplied to
    num_j·64·k(k+1) > T·size_j — no float division anywhere), so DuckDB
    re-derives the identical 64 bits per payload; the ≤3-of-4-bands
    pigeonhole is lossless, so the oracle checks ALL pairs at hamming ≤
    PHASH_MAX_HAMMING directly (`ext_multimodal_phash_oracle`).
    Exhaustive-equality python-reference test additionally pins the kernel.
    """
    from collections.abc import Iterator as _It

    media = media_table(spark, sf_dir)

    def hash_batches(batches: _It) -> _It:
        import numpy as np
        import pandas as pd

        def decode(p):  # identity fake — see module header
            return p

        for pdf in batches:
            raws = [
                np.frombuffer(decode(bytes(p)), dtype=np.uint8)
                for p in pdf["payload"]
            ]
            lens = np.array([r.size for r in raws], dtype=np.int64)
            hashes = np.zeros(len(raws), dtype=np.int64)
            # payloads ≥ 64 bytes (the common case): ONE vectorized pass —
            # array_split's boundary rule (l%64 leading cells of size
            # l//64+1) reproduced as reduceat segments over the batch
            # concatenation, bits packed MSB-first like the scalar fold
            # INTEGER-EXACT threshold (round-3 oracle contract): with cell
            # sizes ∈ {k, k+1}, cell_mean_j > mean-of-cell-means rewrites
            # as num_j·64·k(k+1) > T·size_j where T = Σ num_i·(k(k+1)/size_i)
            # — all int64, no float division, so DuckDB reproduces every
            # bit decision exactly (incl. uniform payloads, where float
            # summation order would decide the strict >)
            big = np.nonzero(lens >= 64)[0]
            if big.size:
                L = lens[big]
                # int64 bound on the cross-multiplied compare:
                # T·size ≤ 64·255·(k+1)³ must stay < 2^63 ⇒ k ≤ ~8·10⁴
                # (payloads ≤ ~5 MB). Fail LOUDLY past it — numpy would
                # wrap silently and flip hash bits (the EWMA guard
                # discipline); the at-scale fix is downsampling the payload
                # before hashing, which real decoders do anyway.
                if int(L.max()) // 64 > 80_000:
                    raise ValueError(
                        "ext_multimodal_phash: payload over ~5 MB exceeds the "
                        "int64-exact threshold bound — downsample the decoded "
                        "bytes before hashing"
                    )
                k, m = L // 64, L % 64
                sizes = k[:, None] + (np.arange(64)[None, :] < m[:, None])
                flat = sizes.ravel()
                starts = np.zeros(flat.size, dtype=np.int64)
                starts[1:] = np.cumsum(flat)[:-1]
                concat = np.concatenate([raws[i] for i in big]).astype(np.int64)
                sums = np.add.reduceat(concat, starts).reshape(-1, 64)
                D = (k * (k + 1))[:, None]
                mult = np.where(sizes == k[:, None], (k + 1)[:, None], k[:, None])
                T = (sums * mult).sum(axis=1)[:, None]
                bits = sums * 64 * D > T * sizes
                packed = (
                    np.packbits(bits, axis=1)
                    .view(">u8")
                    .ravel()
                    .astype(np.uint64)
                    .view(np.int64)
                )
                hashes[big] = packed
            # sub-64-byte payloads (rare): cells are single bytes or empty
            # (k = 0) — same integer rule with D = 1
            for i in np.nonzero((lens < 64) & (lens > 0))[0]:
                r = raws[i].astype(np.int64)
                nums = np.zeros(64, dtype=np.int64)
                nums[: r.size] = r
                szs = (np.arange(64) < r.size).astype(np.int64)
                T1 = int(nums.sum())
                bits1 = (nums * 64 > T1 * szs).astype(np.uint64)
                h = 0
                for b in bits1:
                    h = (h << 1) | int(b)
                hashes[i] = h - (1 << 64) if h >= (1 << 63) else h
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "phash": hashes})

    sigs = media.select("doc_id", "payload").mapInPandas(
        hash_batches, "doc_id long, phash long"
    )
    band_keys = F.array(
        *[
            F.shiftright("phash", 16 * b).bitwiseAND(F.lit(0xFFFF))
            for b in range(PHASH_BANDS)
        ]
    )
    banded = sigs.select(
        "doc_id", "phash", F.posexplode(band_keys).alias("band", "bits")
    )
    buckets = (
        banded.groupBy("band", "bits")
        .agg(F.collect_list(F.struct("doc_id", "phash")).alias("members"))
        .where(F.size("members") > 1)
    )
    # tiled expansion (shared with the SimHash/MinHash buckets): media
    # near-dup clusters make hot 16-bit-band buckets grow with the
    # corpus; per-row work stays bounded at PAIR_TILE² whatever the size
    from .dedup import tiled_bucket_pairs

    # verify BEFORE the dedup shuffle (optimization round 13, guide §2.3,
    # the SimHash reorder): both hashes ride the candidate struct, so the
    # Hamming gate is a narrow map — ahead of `.distinct()` it shrinks
    # the multi-band dedup exchange to qualifying pairs only; hamming is
    # a pure function of the pair, so the pair set is unchanged.
    return (
        tiled_bucket_pairs(
            buckets,
            key=lambda s: s["doc_id"],
            pair=lambda a, b: F.struct(
                a["doc_id"].alias("doc_a"),
                b["doc_id"].alias("doc_b"),
                a["phash"].alias("sig_a"),
                b["phash"].alias("sig_b"),
            ),
        )
        .select(
            "p.doc_a",
            "p.doc_b",
            F.bit_count(F.col("p.sig_a").bitwiseXOR(F.col("p.sig_b"))).alias(
                "hamming"
            ),
        )
        .where(F.col("hamming") <= PHASH_MAX_HAMMING)
        .distinct()
    )
