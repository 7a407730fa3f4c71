"""Multimodal column plumbing (engine extension layer — north star).

Design: image/audio/video payloads are opaque ``binary`` columns with a
typed metadata struct alongside. The Spark-side mechanics — schema,
Arrow batch shape, ``mapInPandas`` partition iteration, partitioning —
are real and tested; the actual codec work is STUBBED because no
image/audio libraries exist in this container:

- ``decode_image_meta`` extracts deterministic pseudo-metadata (byte
  length, sha256, fake dimensions derived from the hash) — the shape a
  real PIL/libvips decode would return.
- ``decode_image_pixels`` is a REAL decoder for the formats a
  pure-Python/numpy + stdlib parser can own: PPM ``P6``, 24-bit
  uncompressed BMP (bottom-up row order, BGR, 4-byte row padding),
  8-bit truecolor PNG (chunk walk with CRC32 verification, zlib
  inflate of multi-IDAT streams, all five scanline filters incl.
  Paeth, RGB and RGBA color types), and JPEG — baseline sequential
  AND progressive, incl. subsampled chroma (``operators.jpeg``). A
  PIL hook covers the exotic remainders (arithmetic-coded JPEG,
  paletted PNG, ...) with an explicit ``NotImplementedError`` when
  neither applies.
- ``decode_audio_pcm`` is the audio analogue (round 11): a REAL
  RIFF/WAVE + 8/16/24-bit integer PCM sample decode
  (``operators.wav``) emitting exact per-channel amplitude stats.

The batch path is ``mapInPandas`` with Arrow transfer: payloads stream
through per-partition ``pandas.DataFrame`` batches bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` — at 100 TB no task
ever holds more than one batch of blobs in memory.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Output schema of the metadata extraction (what a real decoder stub
#: would fill: container-level facts + content address).
IMAGE_META_SCHEMA = (
    "doc_id bigint, n_bytes int, sha256 string, width int, height int, format string"
)


def with_binary_payload(df: DataFrame, source_col: str, payload_col: str = "payload") -> DataFrame:
    """Materialize an opaque binary column (here: utf-8 bytes of a
    string column — the deterministic stand-in for real image bytes)."""
    return df.withColumn(payload_col, F.col(source_col).cast("binary"))


def _fake_dims(digest: bytes) -> tuple[int, int]:
    """Deterministic pseudo-dimensions from the content hash — stands
    in for a real header parse."""
    w = 64 + (int.from_bytes(digest[0:2], "big") % 1984)  # 64..2047
    h = 64 + (int.from_bytes(digest[2:4], "big") % 1984)
    return w, h


def parse_webp_meta(data: bytes) -> tuple[int, int, str]:
    """WebP container header -> (width, height, variant), pure struct.
    Walks the RIFF chunks inside 'WEBP' and reads the first image
    header: 'VP8 ' (lossy — 3-byte frame tag, the 9D 01 2A keyframe
    start code, then 14-bit width/height in two LE uint16s), 'VP8L'
    (lossless — 0x2F signature, then width-1/height-1 as 14-bit fields
    of one LE uint32), or 'VP8X' (extended — 24-bit LE canvas
    width-1/height-1 after the flags). Coded-pixel decode stays the
    honest codec line (VP8 is an arithmetic-coded video intra frame);
    the dims + variant are what a corpus audit needs."""
    import struct as _struct

    if len(data) < 16 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP payload")
    pos = 12
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (size,) = _struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError(f"truncated WebP chunk {cid!r}")
        if cid == b"VP8 ":
            if size < 10 or body[3:6] != b"\x9d\x01\x2a":
                raise ValueError("bad VP8 keyframe header")
            (w16,) = _struct.unpack_from("<H", body, 6)
            (h16,) = _struct.unpack_from("<H", body, 8)
            return w16 & 0x3FFF, h16 & 0x3FFF, "vp8"
        if cid == b"VP8L":
            if size < 5 or body[0] != 0x2F:
                raise ValueError("bad VP8L signature")
            (bits,) = _struct.unpack_from("<I", body, 1)
            return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1, "vp8l"
        if cid == b"VP8X":
            if size < 10:
                raise ValueError("short VP8X chunk")
            w = int.from_bytes(body[4:7], "little") + 1
            h = int.from_bytes(body[7:10], "little") + 1
            return w, h, "vp8x"
        pos += 8 + size + (size & 1)  # RIFF even-byte padding
    raise ValueError("WebP without an image header chunk")


def decode_image_meta(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Per-blob metadata via mapInPandas (Arrow-batched; the real-decoder
    insertion point). Deterministic: size, sha256, hash-derived dims."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) for p in pdf[payload_col]]
            digests = [hashlib.sha256(p).digest() for p in payloads]
            dims = []
            fmts = []
            for p, d in zip(payloads, digests):
                if p[:4] == b"RIFF" and p[8:12] == b"WEBP":
                    # real header parse (round 13); soft-fail like the
                    # audio tier — one corrupt blob is a quarantine
                    # row, not a dead job
                    try:
                        w, h, variant = parse_webp_meta(p)
                        dims.append((w, h))
                        fmts.append(f"webp_{variant}")
                        continue
                    except ValueError:
                        dims.append((0, 0))
                        fmts.append("parse_error")
                        continue
                dims.append(_fake_dims(d))
                fmts.append("stub")
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": [len(p) for p in payloads],
                    "sha256": [d.hex() for d in digests],
                    "width": [w for w, _ in dims],
                    "height": [h for _, h in dims],
                    "format": fmts,
                }
            )

    from ais_data_pipeline_spark.operators.util import spread_to_parallelism

    # Python-side hashing is CPU-bound: widen single-split scans so the
    # Arrow batches fan out across cores
    narrow = spread_to_parallelism(df.select(id_col, payload_col))
    return narrow.mapInPandas(extract, IMAGE_META_SCHEMA)


def _parse_ppm(data: bytes):
    """Binary PPM (``P6``) → HxWx3 uint8 array. Real parser: handles
    ``#`` comments and arbitrary whitespace in the header per the
    netpbm spec; only maxval <= 255 (1-byte samples) is supported."""
    import numpy as np

    if data[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # header tokenizer: after the magic, three decimal fields (width,
    # height, maxval) separated by whitespace, '#' starts a comment to
    # end-of-line; a single whitespace byte then precedes the raster.
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos] not in (10, 13):
                pos += 1
            continue
        start = pos
        while pos < len(data) and data[pos : pos + 1].isdigit():
            pos += 1
        if pos == start:
            raise ValueError("malformed PPM header")
        fields.append(int(data[start:pos]))
    pos += 1  # the single whitespace byte before the raster
    w, h, maxval = fields
    if maxval > 255:
        raise NotImplementedError("2-byte PPM samples not supported")
    raster = data[pos : pos + w * h * 3]
    if len(raster) != w * h * 3:
        raise ValueError("truncated PPM raster")
    return np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)


def _parse_bmp(data: bytes):
    """24-bit (BGR) or 32-bit (BGRA/BGRX — round 12, the screenshot
    layout) uncompressed BMP (BITMAPINFOHEADER) → HxWx3 uint8 RGB.
    Real parser: honors the pixel-data offset, bottom-up (positive
    height) vs top-down (negative) row order, per-row 4-byte padding,
    and the on-disk channel order (the 4th byte of 32-bit pixels —
    alpha or filler — is dropped after de-interleaving)."""
    import struct

    import numpy as np

    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (offset,) = struct.unpack_from("<I", data, 10)
    w, h_raw = struct.unpack_from("<ii", data, 18)
    (bpp,) = struct.unpack_from("<H", data, 28)
    (compression,) = struct.unpack_from("<I", data, 30)
    if bpp not in (24, 32) or compression != 0:
        raise NotImplementedError("only 24/32-bit uncompressed BMP supported")
    h, bottom_up = abs(h_raw), h_raw > 0
    nch = bpp // 8
    stride = (w * nch + 3) // 4 * 4
    if len(data) < offset + stride * h:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(
        data[offset : offset + stride * h], dtype=np.uint8
    ).reshape(h, stride)[:, : w * nch]
    img = rows.reshape(h, w, nch)[:, :, 2::-1]  # BGR(A) -> RGB, alpha off
    return img[::-1] if bottom_up else img


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _parse_png(data: bytes):
    """8-bit truecolor PNG → HxWx3 uint8 RGB array, pure stdlib
    (``zlib`` + ``struct``) + numpy. Real decoder: walks the chunk
    stream verifying each CRC32, reassembles multi-IDAT zlib payloads,
    inflates, and de-filters every scanline for all five filter types
    (None/Sub/Up/Average/Paeth — the Sub/Average/Paeth reconstructions
    carry the left-neighbor recurrence the spec mandates). Color type 2
    (RGB), 6 (RGBA — alpha stripped after de-filtering, since the
    filter recurrence runs over all channels), 3 (8-bit paletted —
    filters run over the index bytes, PLTE lookup after
    reconstruction), and 0/4 (grayscale ± alpha, replicated to RGB)
    are supported at 8-bit depth, types 0/2/4/6 also at 16-bit (full
    2-byte de-filter, high-byte 8-bit presentation like PIL's RGB
    conversion), both sequential and Adam7-interlaced (round 12:
    seven independently filtered reduced images scattered onto the
    8x8 grid). Sub-byte depths (1/2/4-bit grayscale and paletted —
    the only combos the spec allows under 8) decode natively too
    (round 13): samples pack MSB-first within each byte, rows pad to
    a byte boundary, and the FILTERS still operate on whole bytes
    with a 1-byte left distance, so de-filtering precedes
    bit-unpacking; grayscale levels scale to 8-bit by the exact
    integral factor 255/(2^d−1). Every layout in the PNG spec now
    decodes natively — a depth/color-type combo outside the spec's
    table is CORRUPT (ValueError), no longer "unsupported"."""
    import struct
    import zlib

    import numpy as np

    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    idat = bytearray()
    plte = None
    w = h = bit_depth = color_type = interlace = None
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError("truncated PNG chunk header")
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length or pos + 12 + length > len(data):
            raise ValueError("truncated PNG chunk body")
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG CRC mismatch in chunk {ctype!r}")
        if ctype == b"IHDR":
            w, h, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"PLTE":
            if length == 0 or length % 3:
                raise ValueError("PNG PLTE length must be a positive multiple of 3")
            plte = body
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if w is None:
        raise ValueError("PNG missing IHDR")
    # PNG spec §11.2.2's full validity table: anything outside it is a
    # corrupt header, not an unsupported variant — every in-spec
    # layout decodes natively as of round 13
    _valid = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
              4: (8, 16), 6: (8, 16)}
    if color_type not in _valid or bit_depth not in _valid[color_type]:
        raise ValueError(
            f"invalid PNG bit depth {bit_depth} for color type {color_type}"
        )
    if color_type == 3 and plte is None:
        raise ValueError("paletted PNG missing PLTE chunk")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    if not idat:
        # a chunk-valid PNG with no pixel payload is corrupt, not a
        # crash: keep the module's ValueError contract (ADVICE r9)
        raise ValueError("corrupt PNG: no IDAT chunk")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG zlib stream: {e}") from None
    if bit_depth < 8:
        # sub-byte layouts are single-channel by the table above; the
        # filter step is still ONE BYTE (spec: bpp rounds up to 1), so
        # de-filter whole padded rows first, bit-unpack after
        samples = _parse_png_subbyte(raw, w, h, bit_depth, interlace)
        if color_type == 3:
            pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
            if int(samples.max(initial=0)) >= pal.shape[0]:
                raise ValueError("PNG palette index out of range")
            return pal[samples]
        # grayscale: 255/(2^d - 1) is exactly integral for d=1,2,4
        # (255, 85, 17) — the same full-range presentation PIL uses
        gray = samples * (255 // ((1 << bit_depth) - 1))
        return np.repeat(gray[:, :, None], 3, axis=2)
    # the filter unit is BYTES per pixel (spec: predictors step by the
    # full sample width), so 16-bit samples just double it — the
    # de-filter helper is depth-agnostic
    bpp = channels * (bit_depth // 8)
    if interlace == 0:
        stride = w * bpp
        if len(raw) != h * (stride + 1):
            raise ValueError("PNG scanline payload length mismatch")
        img = _defilter_scanlines(raw, w, h, bpp).reshape(h, w, bpp)
    elif interlace == 1:
        # Adam7 (round 12 — closes the decoder's last 8-bit-truecolor
        # NotImplementedError): seven reduced images, each filtered
        # INDEPENDENTLY (its own scanline chain, prior row all-zero at
        # each pass start), scattered back onto the 8x8 pixel grid.
        # Empty passes (reduced width or height 0) contribute NO bytes,
        # per the spec.
        img = np.zeros((h, w, bpp), dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7_PASSES:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            need = ph * (pw * bpp + 1)
            sub_raw = raw[pos : pos + need]
            if len(sub_raw) != need:
                raise ValueError("PNG interlaced pass payload truncated")
            pos += need
            sub = _defilter_scanlines(sub_raw, pw, ph, bpp).reshape(ph, pw, bpp)
            img[y0::dy, x0::dx] = sub
        if pos != len(raw):
            raise ValueError("PNG scanline payload length mismatch")
    else:
        raise ValueError(f"bad PNG interlace method {interlace}")
    if color_type == 3:
        # palette lookup AFTER de-filtering (round 12 — filters run
        # over index bytes, exactly like any other channel layout)
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = img.reshape(h, w)
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("PNG palette index out of range")
        return pal[idx]
    if bit_depth == 16:
        # samples are big-endian uint16; the 8-bit presentation keeps
        # the HIGH byte — the same precision reduction PIL applies
        # converting 16-bit PNGs to RGB mode (the de-filter above ran
        # over the full 2-byte samples, so reconstruction is exact)
        img = img.reshape(h, w, channels, 2)[:, :, :, 0]
    if color_type in (0, 4):  # grayscale (+alpha): replicate to RGB
        return np.repeat(img[:, :, :1], 3, axis=2)
    return (img[:, :, :3].copy() if channels == 4 else img)


#: Adam7 pass grid: (x_start, y_start, x_step, y_step) per pass —
#: note passes 4 and 6 START AT ROW 0 (the spec's 8x8 stencil has 4s
#: and 6s in its first row); a y-start of 4/2 there decodes 2x1 images
#: with a black right pixel (caught by the hand-built spec pin)
_ADAM7_PASSES = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _defilter_scanlines(raw: bytes, w: int, h: int, bpp: int):
    """Invert the five PNG scanline filters over ``h`` rows of
    ``w*bpp`` bytes (each prefixed by its filter byte); the prior row
    starts all-zero, so one call handles a whole image OR one Adam7
    reduced image. Returns an (h, w*bpp) uint8 array."""
    import numpy as np

    stride = w * bpp
    out = np.zeros((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int64)  # reconstructed row above
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int64)
        if f == 0:  # None
            recon = line
        elif f == 1:  # Sub: recon[i] = line[i] + recon[i-bpp] — a pure
            # per-channel-lane prefix sum mod 256, so it vectorizes
            recon = np.cumsum(line.reshape(w, bpp), axis=0).reshape(-1) % 256
        elif f == 2:  # Up: no left dependency, vectorized
            recon = (line + prior) % 256
        elif f in (3, 4):  # Average/Paeth: the predictor reads the
            # RECONSTRUCTED left neighbor through a non-linear fn
            # (floor-div / argmin), so the recurrence is inherently
            # sequential in x. Plain-Python LIST arithmetic is the
            # measured winner for this loop (128x128 RGB, per-thread):
            # 1.29 Mpx/s vs 0.40 for per-element ndarray access (r9)
            # and 0.09 for bpp-lane numpy vectors (tiny-array op
            # overhead swamps the 3-4x iteration saving) — scalar
            # ints, inlined Paeth, branch-free boundary via the
            # i >= bpp split.
            line_l = line.tolist()
            prior_l = prior.tolist()
            recon_l = [0] * stride
            if f == 3:
                for i in range(stride):
                    left = recon_l[i - bpp] if i >= bpp else 0
                    recon_l[i] = (line_l[i] + (left + prior_l[i]) // 2) & 255
            else:
                for i in range(stride):
                    if i >= bpp:
                        left = recon_l[i - bpp]
                        ul = prior_l[i - bpp]
                    else:
                        left = 0
                        ul = 0
                    up = prior_l[i]
                    p = left + up - ul
                    pa = p - left
                    if pa < 0:
                        pa = -pa
                    pb = p - up
                    if pb < 0:
                        pb = -pb
                    pc = p - ul
                    if pc < 0:
                        pc = -pc
                    if pa <= pb and pa <= pc:
                        pred = left
                    elif pb <= pc:
                        pred = up
                    else:
                        pred = ul
                    recon_l[i] = (line_l[i] + pred) & 255
            recon = np.asarray(recon_l, dtype=np.int64)
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        out[y] = recon.astype(np.uint8)
        prior = recon
    return out


def _unpack_subbyte_rows(rows, w: int, depth: int):
    """(h, row_bytes) de-filtered scanline bytes → (h, w) uint8
    samples. PNG packs sub-byte samples MSB-first within each byte
    (spec §7.2); trailing pad bits in each row are discarded."""
    import numpy as np

    bits = np.unpackbits(rows, axis=1)[:, : w * depth]
    packed = np.packbits(bits.reshape(rows.shape[0], w, depth), axis=2)
    return packed[:, :, 0] >> (8 - depth)


def _parse_png_subbyte(raw, w, h, depth, interlace):
    """De-filter + bit-unpack a sub-byte (1/2/4-bit, single-channel)
    PNG pixel stream → (h, w) uint8 raw samples (palette indices or
    gray levels — the caller applies PLTE / range scaling). Rows are
    ``ceil(w*depth/8)`` bytes, each Adam7 reduced image pads its OWN
    rows (spec: passes are independent images), and the byte-level
    de-filter runs with bpp=1 before any bit is unpacked."""
    import numpy as np

    if interlace == 0:
        row_bytes = (w * depth + 7) // 8
        if len(raw) != h * (row_bytes + 1):
            raise ValueError("PNG scanline payload length mismatch")
        return _unpack_subbyte_rows(
            _defilter_scanlines(raw, row_bytes, h, 1), w, depth
        )
    if interlace != 1:
        raise ValueError(f"bad PNG interlace method {interlace}")
    samples = np.zeros((h, w), dtype=np.uint8)
    pos = 0
    for x0, y0, dx, dy in _ADAM7_PASSES:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        prb = (pw * depth + 7) // 8
        need = ph * (prb + 1)
        sub_raw = raw[pos : pos + need]
        if len(sub_raw) != need:
            raise ValueError("PNG interlaced pass payload truncated")
        pos += need
        sub = _unpack_subbyte_rows(
            _defilter_scanlines(sub_raw, prb, ph, 1), pw, depth
        )
        samples[y0::dy, x0::dx] = sub
    if pos != len(raw):
        raise ValueError("PNG scanline payload length mismatch")
    return samples


def decode_pixels_array(data: bytes):
    """Payload bytes → (HxWx3 uint8 RGB array, format tag). Dispatches
    on magic bytes: PPM/BMP/GIF/PNG/JPEG (JPEG baseline AND
    progressive, incl. 4:2:0/4:2:2 subsampled chroma; PNG EVERY
    spec layout — truecolor/palette/grayscale ± alpha, 1/2/4/8/16
    bit, Adam7 — as of round 13; GIF incl. LZW, interlace, and
    first-frame compositing with background + transparency; JPEG at
    8-bit AND 12-bit precision; uncompressed baseline TIFF, gray/RGB,
    both byte orders, any strip split) decode natively (numpy + stdlib
    ``zlib``/``struct``); the remaining PIL fall-throughs are
    arithmetic-coded / hierarchical JPEG and compressed TIFF; anything
    else is the explicit honest-stub contract."""
    if data[:2] == b"P6":
        return _parse_ppm(data), "ppm"
    if data[:2] == b"BM":
        return _parse_bmp(data), "bmp"
    if data[:6] in (b"GIF87a", b"GIF89a"):
        # no PIL fall-through: first-frame compositing (partial frames,
        # transparency) decodes natively as of round 13
        from ais_data_pipeline_spark.operators.gif import parse_gif

        return parse_gif(data), "gif"
    if data[:8] == _PNG_SIG:
        # no PIL fall-through: every layout the PNG spec allows
        # decodes natively (round 13), so any failure is corruption
        return _parse_png(data), "png"
    if data[:4] in (b"II\x2a\x00", b"MM\x00\x2a"):
        from ais_data_pipeline_spark.operators.tiff import parse_tiff

        try:
            return parse_tiff(data), "tiff"
        except NotImplementedError:
            # exotic codecs (old-style JPEG 6/CCITT; new-style
            # JPEG-in-TIFF and planar-2 decode natively as of r15):
            # PIL fall-through, the image tier's exotic convention
            pass
    if data[:2] == b"\xff\xd8":
        from ais_data_pipeline_spark.operators.jpeg import parse_jpeg

        try:
            return parse_jpeg(data), "jpeg"
        except NotImplementedError:
            # arithmetic-coded/hierarchical/fractional-ratio: PIL
            # fall-through — the last image-tier exotics (12-bit
            # decodes natively as of round 13)
            pass
    try:  # exotic-variant hook: only taken where PIL exists
        import io

        import numpy as np
        from PIL import Image  # type: ignore[import-not-found]

        img = Image.open(io.BytesIO(data)).convert("RGB")
        return np.asarray(img, dtype=np.uint8), (img.format or "pil").lower()
    except ImportError:
        raise NotImplementedError(
            "pixel decode for formats beyond native PPM/BMP/PNG/baseline-"
            "JPEG (progressive JPEG, subsampled chroma, WebP, ...) "
            "requires an image codec library (PIL/libvips) — use "
            "decode_image_meta for the metadata-only path"
        ) from None


IMAGE_PIXEL_SCHEMA = (
    "doc_id bigint, width int, height int, n_channels int, format string, "
    "sum_r bigint, sum_g bigint, sum_b bigint"
)


def decode_pixels_pages(data: bytes) -> tuple[list, str]:
    """Payload bytes -> (list of HxWx3 uint8 RGB arrays, format tag).
    Multi-page TIFFs (the document-corpus staple, r14) yield one array
    per chained IFD; every other format is a single-element list via
    ``decode_pixels_array``. Native-scope TIFF variant errors fall
    through to the single-array path (PIL hook convention)."""
    if data[:4] in (b"II\x2a\x00", b"MM\x00\x2a"):
        from ais_data_pipeline_spark.operators.tiff import parse_tiff_pages

        try:
            return parse_tiff_pages(data), "tiff"
        except NotImplementedError:
            pass  # exotic variant: PIL hook via the single-array path
    arr, fmt = decode_pixels_array(data)
    return [arr], fmt


def decode_image_pixels(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Per-blob pixel decode via mapInPandas (Arrow-batched): dims,
    format tag, and exact per-channel uint8 sums (int64 — no float
    accumulation, so a SQL oracle can re-derive them bit-exactly from
    the fixture generator's closed form). Multi-page TIFFs emit ONE
    ROW PER PAGE (r14) — same doc_id, per-page dims and sums; every
    other format emits exactly one row as before. At 100 TB each task
    holds one Arrow batch of blobs; the decode is per-row numpy with
    no state."""
    import numpy as np

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "width", "height", "n_channels", "format", "sum_r", "sum_g", "sum_b")}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                arrs, fmt = decode_pixels_pages(bytes(payload))
                for arr in arrs:
                    s = arr.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                    out["doc_id"].append(int(doc_id))
                    out["height"].append(arr.shape[0])
                    out["width"].append(arr.shape[1])
                    out["n_channels"].append(arr.shape[2])
                    out["format"].append(fmt)
                    out["sum_r"].append(int(s[0]))
                    out["sum_g"].append(int(s[1]))
                    out["sum_b"].append(int(s[2]))
            yield pd.DataFrame(out)

    from ais_data_pipeline_spark.operators.util import spread_to_parallelism

    narrow = spread_to_parallelism(df.select(id_col, payload_col))
    return narrow.mapInPandas(extract, IMAGE_PIXEL_SCHEMA)


RESIZE_STATS_SCHEMA = (
    "doc_id bigint, src_width int, src_height int, out_width int, "
    "out_height int, sampled_sum bigint, sampled_checksum bigint"
)


def resize_pixel_stats(
    df: DataFrame,
    out_w: int,
    out_h: int,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Decode → nearest-neighbor resize to (out_w, out_h) in one
    mapInPandas stage. NN index rule is the floor map
    ``src_x = dst_x * src_w // out_w`` (ditto y), which a SQL oracle
    replays with integer arithmetic. Emits the exact sum and a
    position-weighted checksum (value * (k+1) over the resized raster
    in row-major RGB order) so any mis-sampled pixel flips the hash."""
    import numpy as np

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = np.arange(1, out_w * out_h * 3 + 1, dtype=np.int64)
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "src_width", "src_height", "out_width", "out_height", "sampled_sum", "sampled_checksum")}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                arr, _fmt = decode_pixels_array(bytes(payload))
                h, w = arr.shape[0], arr.shape[1]
                sy = np.arange(out_h, dtype=np.int64) * h // out_h
                sx = np.arange(out_w, dtype=np.int64) * w // out_w
                sampled = arr[sy][:, sx].astype(np.int64).ravel()
                out["doc_id"].append(int(doc_id))
                out["src_width"].append(w)
                out["src_height"].append(h)
                out["out_width"].append(out_w)
                out["out_height"].append(out_h)
                out["sampled_sum"].append(int(sampled.sum()))
                out["sampled_checksum"].append(int((sampled * weights).sum()))
            yield pd.DataFrame(out)

    from ais_data_pipeline_spark.operators.util import spread_to_parallelism

    narrow = spread_to_parallelism(df.select(id_col, payload_col))
    return narrow.mapInPandas(extract, RESIZE_STATS_SCHEMA)


def luma_bucket_counts(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    bucket_width: int = 32,
) -> DataFrame:
    """Decode → integer-luma histogram: per pixel
    ``luma = (299*r + 587*g + 114*b) // 1000`` (BT.601 weights in
    pure integer arithmetic — no float rounding to diverge between
    engines), bucketed by ``luma // bucket_width``. mapInPandas emits
    per-doc partial counts; one combinable groupBy-sum merges them —
    the map-side-combine shape a 100 TB histogram needs."""
    import numpy as np

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_buckets = (256 + bucket_width - 1) // bucket_width
        for pdf in batches:
            buckets, counts = [], []
            for _doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                arr, _fmt = decode_pixels_array(bytes(payload))
                px = arr.reshape(-1, 3).astype(np.int64)
                luma = (299 * px[:, 0] + 587 * px[:, 1] + 114 * px[:, 2]) // 1000
                cnt = np.bincount(luma // bucket_width, minlength=n_buckets)
                for b in range(n_buckets):
                    if cnt[b]:
                        buckets.append(b)
                        counts.append(int(cnt[b]))
            yield pd.DataFrame({"bucket": pd.Series(buckets, dtype="int32"), "n_pixels": pd.Series(counts, dtype="int64")})

    from ais_data_pipeline_spark.operators.util import spread_to_parallelism

    narrow = spread_to_parallelism(df.select(id_col, payload_col))
    partial = narrow.mapInPandas(extract, "bucket int, n_pixels bigint")
    return partial.groupBy("bucket").agg(F.sum("n_pixels").alias("n_pixels"))


def synth_pixel_value(doc_id: int, k: int) -> int:
    """Ground-truth pixel byte for the synthetic fixtures: byte ``k``
    of doc ``doc_id``'s row-major RGB raster is ``(doc_id*31 + k) % 256``
    — closed-form, so DuckDB oracles re-derive every stat analytically
    while the engine path round-trips through REAL encoded bytes."""
    return (doc_id * 31 + k) % 256


def ppm_dims(doc_id: int) -> tuple[int, int]:
    return 4 + doc_id % 13, 4 + doc_id % 7


def bmp_dims(doc_id: int) -> tuple[int, int]:
    # w % 4 varies so the BMP row padding (0-3 bytes) is exercised
    return 4 + doc_id % 11, 4 + doc_id % 5


def png_dims(doc_id: int) -> tuple[int, int]:
    # h >= 4 so each image spans >= 4 consecutive filter types of the
    # (doc_id + row) % 5 cycle; across doc_ids all five lead a row 0
    return 4 + doc_id % 12, 4 + doc_id % 6


def tiff_dims(doc_id: int) -> tuple[int, int]:
    # odd heights exercise the final short strip at rows_per_strip=2
    return 4 + doc_id % 7, 3 + doc_id % 6


def gif_dims(doc_id: int) -> tuple[int, int]:
    # w varies the LZW phrase structure; h >= 4 exercises all four
    # interlace passes on odd (interlaced) ids
    return 5 + doc_id % 9, 4 + doc_id % 6


def jpeg_dims(doc_id: int) -> tuple[int, int]:
    # w % 8 and h % 8 vary so partial right/bottom blocks (decoder
    # crop of the ceil-to-8 block grid) are exercised
    return 8 + (doc_id % 3) * 8 + doc_id % 5, 8 + (doc_id % 2) * 8 + doc_id % 3


def jpeg_prog_dims(doc_id: int) -> tuple[int, int]:
    # a different sweep than jpeg_dims (wider: up to 4x3 blocks) so the
    # progressive query is a genuinely distinct fixture corpus; w/h % 8
    # vary for partial edge blocks
    return 8 + (doc_id % 4) * 8 + doc_id % 7, 8 + (doc_id % 3) * 8 + doc_id % 5


def jpeg_block_gray(doc_id: int, bx: int, by: int, nbx: int) -> int:
    """Ground-truth gray level of 8x8 block (bx, by) in the JPEG
    fixture: constant blocks keep the DCT DC-only so the baseline
    decode is bit-exact and a SQL oracle re-derives every pixel as
    ``gray(doc_id, x // 8, y // 8)`` — the JPEG analogue of
    ``synth_pixel_value``."""
    return (doc_id * 31 + by * nbx + bx) % 256


def encode_ppm(doc_id: int, w: int, h: int) -> bytes:
    import numpy as np

    raster = ((np.arange(w * h * 3, dtype=np.int64) + doc_id * 31) % 256).astype(np.uint8)
    return b"P6\n%d %d\n255\n" % (w, h) + raster.tobytes()


def encode_bmp(doc_id: int, w: int, h: int) -> bytes:
    """Real 24-bit BMP writer: BITMAPFILEHEADER + BITMAPINFOHEADER,
    bottom-up rows, BGR channel order, rows padded to 4 bytes — the
    decoder must undo all three to recover the logical raster."""
    import struct

    import numpy as np

    logical = (
        ((np.arange(w * h * 3, dtype=np.int64) + doc_id * 31) % 256)
        .astype(np.uint8)
        .reshape(h, w, 3)
    )
    stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = logical[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    offset = 14 + 40
    size = offset + stride * h
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, offset) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0
    )
    return header + rows.tobytes()


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def png_bytes_from_raster(raster, filter_for_row, interlace: bool = False) -> bytes:
    """Arbitrary HxWx3 (RGB) or HxWx4 (RGBA) uint8 raster → real PNG
    stream (signature + IHDR + IDAT + IEND, correct CRC32s).
    ``filter_for_row(y) -> 0..4`` picks each scanline's filter type, so
    callers (fixtures, property tests) control exactly which of the
    five spec filters the decoder must invert. ``interlace=True``
    writes Adam7: each of the seven reduced images filters
    independently (prior row reset per pass), empty passes emit no
    bytes. The zlib stream splits across two IDAT chunks when long
    enough to pin multi-IDAT reassembly."""
    import struct
    import zlib

    import numpy as np

    h, w, bpp = raster.shape

    def filter_rows(rows: "np.ndarray", pw: int) -> bytes:
        # encode-side filters have NO recurrence (predictors read RAW
        # neighbor values, all known up front), so every filter type
        # vectorizes — unlike the decoder, where Average/Paeth must
        # chase the reconstructed left neighbor sequentially
        stride = pw * bpp
        out = bytearray()
        prior = np.zeros(stride, dtype=np.int64)
        for y in range(rows.shape[0]):
            f = filter_for_row(y)
            cur = rows[y]
            left = np.zeros(stride, dtype=np.int64)
            left[bpp:] = cur[:-bpp]
            if f == 0:
                filt = cur
            elif f == 1:
                filt = (cur - left) % 256
            elif f == 2:
                filt = (cur - prior) % 256
            elif f == 3:
                filt = (cur - (left + prior) // 2) % 256
            else:
                ul = np.zeros(stride, dtype=np.int64)
                ul[bpp:] = prior[:-bpp]
                p = left + prior - ul
                pa, pb, pc = np.abs(p - left), np.abs(p - prior), np.abs(p - ul)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prior, ul)
                )
                filt = (cur - pred) % 256
            out.append(f)
            out += filt.astype(np.uint8).tobytes()
            prior = cur
        return bytes(out)

    if interlace:
        scanlines = bytearray()
        for x0, y0, dx, dy in _ADAM7_PASSES:
            sub = raster[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            ph, pw = sub.shape[0], sub.shape[1]
            scanlines += filter_rows(
                sub.reshape(ph, pw * bpp).astype(np.int64), pw
            )
        z = zlib.compress(bytes(scanlines), 6)
    else:
        z = zlib.compress(
            filter_rows(raster.reshape(h, w * bpp).astype(np.int64), w), 6
        )
    ihdr = struct.pack(
        ">IIBBBBB", w, h, 8, 6 if bpp == 4 else 2, 0, 0, 1 if interlace else 0
    )
    out = _PNG_SIG + _png_chunk(b"IHDR", ihdr)
    if len(z) > 32:
        mid = len(z) // 2
        out += _png_chunk(b"IDAT", z[:mid]) + _png_chunk(b"IDAT", z[mid:])
    else:
        out += _png_chunk(b"IDAT", z)
    return out + _png_chunk(b"IEND", b"")


def encode_png(doc_id: int, w: int, h: int, rgba: bool = False) -> bytes:
    """Fixture PNG writer: the logical RGB raster is the closed form
    ``synth_pixel_value``; ``rgba`` interleaves a ``(doc_id*7 + p) %
    256`` alpha channel the decoder must stride over and strip back
    out. The scanline filter type cycles ``(doc_id + row) % 5`` so
    every fixture corpus exercises all five filters incl. Paeth."""
    import numpy as np

    rgb = (
        ((np.arange(w * h * 3, dtype=np.int64) + doc_id * 31) % 256)
        .astype(np.uint8)
        .reshape(h, w, 3)
    )
    if rgba:
        alpha = (
            ((doc_id * 7 + np.arange(w * h, dtype=np.int64)) % 256)
            .astype(np.uint8)
            .reshape(h, w, 1)
        )
        raster = np.concatenate([rgb, alpha], axis=2)
    else:
        raster = rgb
    return png_bytes_from_raster(raster, lambda y: (doc_id + y) % 5)


def make_image_fixture(
    df: DataFrame, fmt: str = "ppm", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, payload) synthetic image fixture: real PPM/BMP/PNG/
    JPEG bytes whose logical raster follows ``synth_pixel_value``
    (``jpeg_block_gray`` for JPEG's per-block constants).
    ``fmt='mixed'`` routes even doc_ids to PPM and odd to BMP;
    ``fmt='mixed3'`` routes doc_id % 3 over PPM/BMP/PNG;
    ``fmt='mixed4'`` routes doc_id % 4 over PPM/BMP/PNG/GIF;
    ``fmt='mixed5'`` routes doc_id % 5 over PPM/BMP/PNG/GIF/TIFF (the
    format-dispatch fixture since round 13 — PNG joined when
    image_pixel_stats_png folded into the dispatch row; GIF the same
    round: a 256-entry palette whose entry c is
    ``synth(doc_id, c..c+2)`` with index ``(3p) % 256`` reproduces
    the SAME closed-form raster, odd ids interlaced; TIFF later in
    r13: odd ids grayscale — gray byte k = synth(d, k), replicated to
    RGB on decode — doc_id % 3 == 0 big-endian, all strip-split at 2
    rows);
    ``fmt='mixed8'`` (r16) = mixed7 plus OLD-style JPEG-in-TIFF:
    multipage docs i%8==5 code page 2 as compression 6 — one complete
    JPEGInterchangeFormat stream (tags 513/514), same block-constant
    closed form as the compression-7 arm;
    ``fmt='png'`` encodes even doc_ids as
    RGB (color type 2) and odd as RGBA (type 6) so both truecolor
    layouts hit the decoder; ``fmt='jpeg'`` encodes even doc_ids as
    grayscale (1 component) and odd as 3-component 4:4:4 color, with
    every fourth image carrying restart markers so DRI/RST handling
    runs in the Spark path too; ``fmt='jpeg_progressive'`` is the same
    corpus shape on different dims routed through the SOF2 multi-scan
    encoder (spectral selection + successive approximation + EOB
    runs). Arrow-batched; each task encodes only its batch."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ais_data_pipeline_spark.operators.jpeg import (
            encode_jpeg_constant_blocks,
        )

        for pdf in batches:
            ids = [int(i) for i in pdf[id_col]]
            payloads = []
            for i in ids:
                if fmt in ("jpeg", "jpeg_progressive"):
                    prog = fmt == "jpeg_progressive"
                    w, h = jpeg_prog_dims(i) if prog else jpeg_dims(i)
                    nbx, nby = (w + 7) // 8, (h + 7) // 8
                    grays = [
                        jpeg_block_gray(i, bx, by, nbx)
                        for by in range(nby)
                        for bx in range(nbx)
                    ]
                    payloads.append(
                        encode_jpeg_constant_blocks(
                            w,
                            h,
                            grays,
                            color=i % 2 == 1,
                            restart_interval=2 if i % 4 == 3 else 0,
                            progressive=prog,
                        )
                    )
                elif fmt == "png" or (
                    fmt == "mixed3" and i % 3 == 2
                ) or (fmt == "mixed4" and i % 4 == 2) or (
                    fmt in ("mixed5", "mixed6", "mixed7", "mixed8") and i % 5 == 2
                ):
                    payloads.append(encode_png(i, *png_dims(i), rgba=i % 2 == 1))
                elif fmt in ("mixed5", "mixed6", "mixed7", "mixed8") and i % 5 == 4:
                    from ais_data_pipeline_spark.operators.tiff import (
                        encode_tiff,
                        encode_tiff_multipage,
                    )

                    # mixed7 (r15) re-routes the TIFF arm by i % 4 to
                    # fit the JPEG-in-TIFF sub-arm; mixed6 keeps the
                    # r14 i % 3 routing (COMPAT: frozen fixture shape)
                    sub = (
                        i % 4
                        if fmt in ("mixed7", "mixed8")
                        else (i % 3 if fmt == "mixed6" else 0)
                    )
                    if fmt in ("mixed7", "mixed8") and sub == 3:
                        # JPEG-in-TIFF arm (r15, compression 7):
                        # block-constant raster — pixel (x, y) =
                        # synth(i, (y//8)*ceil(w/8) + x//8), R=G=B —
                        # shared JPEGTables tag + abbreviated streams;
                        # strips (rps 8) and 8x8 tiles alternate, the
                        # closed form is layout-independent
                        w, h = tiff_dims(i)
                        payloads.append(
                            encode_tiff(
                                i, w, h, gray=i % 2 == 1,
                                compression=7,
                                rows_per_strip=None if (i // 4) % 2 else 8,
                                tile=(8, 8) if (i // 4) % 2 else None,
                            )
                        )
                    elif fmt in ("mixed6", "mixed7", "mixed8") and sub == 1:
                        # multi-page arm (r14): 2-3 chained IFDs with
                        # per-page dims, seeds, and compressions —
                        # page p raster byte k = synth(i + 131*p, k).
                        # mixed7 (r15): docs i%8==1 swap page 1 to
                        # CCITT G4 bilevel — bit (x, y) black iff
                        # synth(seed, y*w+x) >= 128, white 255 —
                        # driver-exercising the fax decode
                        payloads.append(
                            encode_tiff_multipage(
                                i,
                                [
                                    dict(
                                        seed_id=i + 131 * p,
                                        w=4 + (i + p) % 7,
                                        h=3 + (i + p) % 6,
                                        gray=i % 2 == 1,
                                        rows_per_strip=2,
                                        compression=(
                                            4
                                            if fmt in ("mixed7", "mixed8")
                                            and p == 1
                                            and i % 8 == 1
                                            # mixed8 (r16): docs i%8==5
                                            # swap page 2 to OLD-style
                                            # JPEG (compression 6,
                                            # JPEGInterchangeFormat full
                                            # stream, block-constant
                                            # closed form)
                                            else 6
                                            if fmt == "mixed8"
                                            and p == 2
                                            and i % 8 == 5
                                            else [1, 5, 8][p % 3]
                                        ),
                                    )
                                    for p in range(2 + i % 2)
                                ],
                            )
                        )
                    elif fmt in ("mixed6", "mixed7", "mixed8") and sub == 2:
                        # TILED arm (r14): 4x4 LZW tiles with edge
                        # padding — same closed-form raster, so the
                        # oracle's pixel sums are layout-independent.
                        # mixed7 stores every fourth color doc's tiles
                        # PLANAR-2 (r15) — raster identical, oracle
                        # untouched, the plane walk driver-exercised
                        w, h = tiff_dims(i)
                        payloads.append(
                            encode_tiff(
                                i, w, h, gray=i % 2 == 1,
                                compression=5, tile=(4, 4),
                                planar=2 if fmt in ("mixed7", "mixed8") and i % 8 == 6 else 1,
                            )
                        )
                    else:
                        w, h = tiff_dims(i)
                        payloads.append(
                            encode_tiff(
                                i, w, h, gray=i % 2 == 1,
                                big_endian=i % 3 == 0, rows_per_strip=2,
                                planar=2 if fmt in ("mixed7", "mixed8") and i % 8 == 0 else 1,
                            )
                        )
                elif (fmt == "mixed4" and i % 4 == 3) or (
                    fmt in ("mixed5", "mixed6", "mixed7", "mixed8") and i % 5 == 3
                ):
                    from ais_data_pipeline_spark.operators.gif import encode_gif

                    w, h = gif_dims(i)
                    pal = bytes(
                        synth_pixel_value(i, c + j)
                        for c in range(256)
                        for j in range(3)
                    )
                    idx = [(3 * p) % 256 for p in range(w * h)]
                    payloads.append(
                        encode_gif(idx, pal, w, h, interlace=i % 2 == 1)
                    )
                elif (
                    fmt == "ppm"
                    or (fmt == "mixed" and i % 2 == 0)
                    or (fmt == "mixed3" and i % 3 == 0)
                    or (fmt == "mixed4" and i % 4 == 0)
                    or (fmt in ("mixed5", "mixed6", "mixed7", "mixed8") and i % 5 == 0)
                ):
                    payloads.append(encode_ppm(i, *ppm_dims(i)))
                else:
                    payloads.append(encode_bmp(i, *bmp_dims(i)))
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"), "payload": payloads})

    from ais_data_pipeline_spark.operators.util import spread_to_parallelism

    narrow = spread_to_parallelism(df.select(id_col))
    return narrow.mapInPandas(encode, "doc_id bigint, payload binary")


#: container magic numbers (hex of the leading bytes) → media type.
#: The sniff compares hex prefixes because hex(binary) renders
#: identically across engines (uppercase, no separator) — the
#: comparison itself is still the standard magic-byte dispatch.
_MAGIC_PREFIX = [
    ("89504E47", 1, "image/png"),
    ("FFD8FF", 1, "image/jpeg"),
    ("47494638", 1, "image/gif"),  # 'GIF8' (round 12)
    ("49492A00", 1, "image/tiff"),  # 'II*\0' little-endian (round 13)
    ("4D4D002A", 1, "image/tiff"),  # 'MM\0*' big-endian (round 13)
    ("57454250", 17, "image/webp"),  # 'WEBP' at byte 8 — MUST
    # precede the bare-RIFF arm (WebP is a RIFF container too)
    ("41564920", 17, "video/avi"),  # 'AVI ' at byte 8 (round 14) —
    # same RIFF-form disambiguation rule as WebP
    ("52494646", 1, "audio/wav"),  # RIFF container
    ("494433", 1, "audio/mp3"),  # ID3 tag
    # bare MPEG audio frame syncs (no ID3 tag): the common MPEG-1/2
    # layer-III first bytes. Listed AFTER JPEG's FFD8FF, which wins
    # first-match. (round 13, with the real MP3 header walk)
    ("FFFB", 1, "audio/mp3"),
    ("FFFA", 1, "audio/mp3"),
    ("FFF3", 1, "audio/mp3"),
    ("FFF2", 1, "audio/mp3"),
    ("664C6143", 1, "audio/flac"),  # 'fLaC' (round 12)
    ("4F676753", 1, "audio/ogg"),  # 'OggS' — Vorbis/Opus (round 12)
    ("66747970", 9, "video/mp4"),  # 'ftyp' at byte offset 4
]

AUDIO_META_SCHEMA = (
    "doc_id bigint, n_bytes bigint, sha256 string, sample_rate int, "
    "n_channels int, duration_ms bigint, codec string"
)

#: stub parameter tables for the header "parse" — chosen by payload
#: size, so both the mapInPandas path and a SQL oracle derive the
#: identical values
_SAMPLE_RATES = [8000, 16000, 22050, 44100, 48000]


def media_type_col(payload: Column) -> Column:
    """Magic-byte media-type sniff as one codegen'd when-chain over
    ``hex(payload)`` prefixes — the router in front of per-modality
    decode stages (first-match semantics, like the reference's URL
    router)."""
    h = F.hex(payload)
    expr = F.lit("application/octet-stream")
    for magic, pos, mtype in reversed(_MAGIC_PREFIX):
        expr = F.when(
            F.substring(h, pos, len(magic)) == magic, F.lit(mtype)
        ).otherwise(expr)
    return expr


def decode_audio_meta(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Audio-blob metadata via mapInPandas (Arrow-batched). REAL
    container branches: FLAC payloads read their STREAMINFO
    (rate/channels/bit depth/exact duration), Ogg payloads their
    Vorbis/Opus identification header plus the last complete page's
    granule position (exact duration since round 13), WAV payloads the
    RIFF fmt walk with the exact PCM duration, and MP3 payloads the
    ID3-skip + MPEG frame-header + Xing walk (exact duration when the
    Xing frame count exists, honest NULL for tagless CBR). A payload
    whose magic routes into a parser but fails to decode (truncated,
    or a RIFF that isn't WAV — WebP/AVI share the magic) yields a
    quarantine-style ``codec='parse_error'`` row with NULL fields
    rather than aborting the job (round-13 review). Everything else
    keeps the deterministic stub — sample rate / channel count chosen
    by payload size, duration from the PCM identity
    ``bytes / (rate * channels * 2)`` — so the Spark plumbing stays
    fully oracle-checkable while SAMPLE decode of the compressed
    codecs stays the honest codec line (the image tier's PIL-hook
    convention)."""

    def _one(payload: bytes) -> tuple[int | None, int | None, int | None, str]:
        from ais_data_pipeline_spark.operators.flac import (
            parse_flac_streaminfo,
            parse_ogg_audio_meta,
        )
        from ais_data_pipeline_spark.operators.mp3 import parse_mp3_meta
        from ais_data_pipeline_spark.operators.wav import parse_wav_full

        # Container branches fail SOFT (round-13 review): magic bytes
        # are a routing hint, not a guarantee — WebP/AVI share 'RIFF',
        # crawl blobs truncate — and one undecodable payload must
        # yield a quarantine-style row, not abort the Spark job.
        try:
            if payload[:4] == b"fLaC":
                m = parse_flac_streaminfo(payload)
                return m["sample_rate"], m["n_channels"], m["duration_ms"], "flac"
            if payload[:4] == b"OggS":
                m = parse_ogg_audio_meta(payload)
                return m["sample_rate"], m["n_channels"], m["duration_ms"], m["codec"]
            if payload[:4] == b"RIFF":
                frames, rate, _bits, codec = parse_wav_full(payload)
                dur = frames.shape[0] * 1000 // rate
                return rate, frames.shape[1], dur, codec
            if payload[:3] == b"ID3" or (
                len(payload) >= 2
                and payload[0] == 0xFF
                and payload[1] & 0xE0 == 0xE0
            ):
                m = parse_mp3_meta(payload)
                return m["sample_rate"], m["n_channels"], m["duration_ms"], "mp3"
        except (ValueError, NotImplementedError, IndexError, struct.error):
            return None, None, None, "parse_error"
        n = len(payload)
        rate = _SAMPLE_RATES[n % len(_SAMPLE_RATES)]
        nch = 1 + n % 2
        return rate, nch, n * 1000 // (rate * nch * 2), "pcm_stub"

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) for p in pdf[payload_col]]
            metas = [_one(p) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": [len(p) for p in payloads],
                    "sha256": [hashlib.sha256(p).hexdigest() for p in payloads],
                    "sample_rate": pd.array(
                        [m[0] for m in metas], dtype="Int32"
                    ),
                    "n_channels": pd.array(
                        [m[1] for m in metas], dtype="Int32"
                    ),
                    "duration_ms": pd.array(
                        [m[2] for m in metas], dtype="Int64"
                    ),
                    "codec": [m[3] for m in metas],
                }
            )

    from ais_data_pipeline_spark.operators.util import spread_to_parallelism

    narrow = spread_to_parallelism(df.select(id_col, payload_col))
    return narrow.mapInPandas(extract, AUDIO_META_SCHEMA)


# sum/peak columns are DOUBLE since round 12 (float32 joined the decode
# surface); every value stays EXACT — integer stats are < 2^53 and the
# float fixture's amplitudes are multiples of 2^-15, so partial sums
# are exact in any order and the oracle hash can't flap
AUDIO_PCM_SCHEMA = (
    "doc_id bigint, channel int, sample_rate int, bits_per_sample int, "
    "n_samples bigint, sum_amp double, sum_abs double, max_abs double, "
    "n_clipped bigint"
)


def make_audio_fixture(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload) synthetic audio fixture: real RIFF/WAVE PCM
    bytes whose waveform follows the ``wav_fixture_amp`` closed form
    (even docs 8-bit, every third stereo, junk LIST chunks on every
    third so the chunk walk runs in the Spark path). Arrow-batched;
    each task encodes only its batch — the audio analogue of
    ``make_image_fixture``."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ais_data_pipeline_spark.operators.wav import encode_wav

        for pdf in batches:
            ids = [int(i) for i in pdf[id_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "payload": [encode_wav(i) for i in ids],
                }
            )

    from ais_data_pipeline_spark.operators.util import spread_to_parallelism

    narrow = spread_to_parallelism(df.select(id_col))
    return narrow.mapInPandas(encode, "doc_id bigint, payload binary")


def make_compressed_audio_fixture(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, payload) COMPRESSED-audio fixture corpus: real FLAC
    headers (doc_id % 3 == 0), real Ogg Vorbis/Opus streams with an
    EOS granule page (% 3 == 1; codec by doc parity), and real
    ID3+MPEG frames with Xing counts (% 3 == 2) — every header field
    a closed form of doc_id that one SQL CASE re-derives (round 13;
    the compressed-container analogue of ``make_audio_fixture``).
    Format is chosen by ``doc_id % 3`` and the encoders receive
    ``doc_id // 3`` so the per-format parameter mods don't alias with
    the format selector (every rate/channel/bitrate combination
    appears in every format)."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ais_data_pipeline_spark.operators.flac import (
            encode_flac_header,
            encode_ogg_header,
        )
        from ais_data_pipeline_spark.operators.mp3 import encode_mp3_header

        enc = [encode_flac_header, encode_ogg_header, encode_mp3_header]
        for pdf in batches:
            ids = [int(i) for i in pdf[id_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "payload": [enc[i % 3](i // 3) for i in ids],
                }
            )

    from ais_data_pipeline_spark.operators.util import spread_to_parallelism

    narrow = spread_to_parallelism(df.select(id_col))
    return narrow.mapInPandas(encode, "doc_id bigint, payload binary")


def flac_sample_value(doc_id: int, ch: int, i: int) -> int:
    """Closed-form 16-bit sample ``i`` of channel ``ch``: the fixture
    waveform both the encoder and the SQL oracle derive."""
    return (doc_id * 131 + i * 17 + ch * 7919) % 65536 - 32768


def flac_pcm_fixture_params(doc_id: int) -> tuple[int, int, int]:
    """(sample_rate, n_channels, total_samples) for the FLAC sample
    fixture — closed forms one SQL CASE re-derives."""
    rate = _SAMPLE_RATES[doc_id % 5]
    nch = 1 + doc_id % 2
    total = 120 + doc_id % 77
    return rate, nch, total


def make_flac_audio_fixture(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload) fixture of REAL FLAC streams carrying the
    ``flac_sample_value`` closed-form waveform (r14): blocksize 48
    (multiple frames + a partial tail), subframe type cycling
    verbatim/fixed0..4/lpc2 by (doc + frame + channel), stereo docs
    cycling independent/left-side/right-side/mid-side by frame — the
    encode is lossless, so amplitude stats are fixture-independent of
    the coding choices while the engine path exercises every decoder
    branch."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ais_data_pipeline_spark.operators.flac_frames import (
            encode_flac_frames,
        )

        types = ["verbatim", "fixed0", "fixed1", "fixed2", "fixed3", "fixed4", "lpc2"]
        modes = [None, "ls", "rs", "ms"]
        for pdf in batches:
            ids = [int(i) for i in pdf[id_col]]
            payloads = []
            for i in ids:
                rate, nch, total = flac_pcm_fixture_params(i)
                chans = [
                    [flac_sample_value(i, c, k) for k in range(total)]
                    for c in range(nch)
                ]
                payloads.append(
                    encode_flac_frames(
                        chans,
                        rate,
                        bps=16,
                        blocksize=48,
                        subframe_type=lambda f, c, i=i: types[(i + f + c) % len(types)],
                        stereo_mode=lambda f, i=i: modes[(i + f) % 4],
                    )
                )
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"), "payload": payloads}
            )

    from ais_data_pipeline_spark.operators.util import spread_to_parallelism

    narrow = spread_to_parallelism(df.select(id_col))
    return narrow.mapInPandas(encode, "doc_id bigint, payload binary")


def decode_audio_pcm(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    lossy_decoder=None,
) -> DataFrame:
    """REAL per-sample audio decode via mapInPandas (Arrow-batched):
    parse the RIFF/WAVE container, decode the 8/16/24-bit integer or
    float32 PCM frames (EXTENSIBLE containers unwrapped — round 12),
    and emit one row per (doc, channel) with exact amplitude stats —
    signed sum, absolute sum, peak, and clip count (full-scale integer
    codes, or |amp| >= 1.0 for float). All values are EXACT doubles
    (integer stats < 2^53; the float fixture's amplitudes are
    multiples of 2^-15), so a SQL oracle re-derives them bit-exactly
    from the closed-form waveform in any accumulation order. At 100 TB
    each task holds one Arrow batch of blobs; the decode is per-row
    numpy with no state — swap ``parse_wav`` for a codec library and
    nothing in the plan changes.

    ``lossy_decoder`` (round 15) is the audio tier's analogue of the
    image tier's PIL hook: an optional callable
    ``bytes -> (frames ndarray [n_samples, n_channels], sample_rate,
    bits_per_sample)`` taken for every payload the native path does
    not decode (MP3 / Ogg Vorbis / Opus frames — lossy codecs whose
    sample output is decoder-implementation-dependent, so a
    hand-built decode could never be oracle-checked the way the
    lossless WAV/FLAC paths are; see SCALING.md's decode-tier
    pricing). Slot libmad/libvorbis/ffmpeg here without touching the
    operator contract — the callable is serialized into the Arrow
    worker closure, stats flow through the identical numpy path.
    Without it, a lossy payload raises the honest
    ``NotImplementedError`` (metadata + exact duration stay available
    via ``decode_audio_meta``)."""
    import numpy as np

    from ais_data_pipeline_spark.operators.wav import clip_bounds, parse_wav

    cols = (
        "doc_id", "channel", "sample_rate", "bits_per_sample",
        "n_samples", "sum_amp", "sum_abs", "max_abs", "n_clipped",
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in cols}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                blob = bytes(payload)
                if blob[:4] == b"fLaC":
                    # r14: native FLAC frame decode — lossless, so the
                    # stats contract is identical to the PCM path
                    from ais_data_pipeline_spark.operators.flac_frames import (
                        decode_flac_samples,
                    )

                    frames, info = decode_flac_samples(blob)
                    rate, bits = info["sample_rate"], info["bits_per_sample"]
                elif blob[:4] == b"RIFF":
                    frames, rate, bits = parse_wav(blob)
                elif lossy_decoder is not None:
                    frames, rate, bits = lossy_decoder(blob)
                    frames = np.asarray(frames)
                    if frames.ndim == 1:
                        frames = frames[:, None]
                else:
                    raise NotImplementedError(
                        "sample decode beyond native WAV-family/FLAC "
                        "(MP3, Ogg Vorbis, Opus, ...) requires an audio "
                        "codec library — pass lossy_decoder= (the audio "
                        "tier's PIL-hook analogue), or use "
                        "decode_audio_meta for exact duration/metadata"
                    )
                is_float = frames.dtype.kind == "f"
                if is_float:
                    a = frames.astype(np.float64)  # f32 -> f64 is exact
                else:
                    a = frames.astype(np.int64)
                    lo, hi = clip_bounds(bits)
                for ch in range(frames.shape[1]):
                    c = a[:, ch]
                    out["doc_id"].append(int(doc_id))
                    out["channel"].append(ch)
                    out["sample_rate"].append(rate)
                    out["bits_per_sample"].append(bits)
                    out["n_samples"].append(int(c.shape[0]))
                    out["sum_amp"].append(float(c.sum()))
                    out["sum_abs"].append(float(np.abs(c).sum()))
                    out["max_abs"].append(float(np.abs(c).max()) if c.size else 0.0)
                    clipped = (
                        np.abs(c) >= 1.0 if is_float else (c == lo) | (c == hi)
                    )
                    out["n_clipped"].append(int(clipped.sum()))
            yield pd.DataFrame(out)

    from ais_data_pipeline_spark.operators.util import spread_to_parallelism

    narrow = spread_to_parallelism(df.select(id_col, payload_col))
    return narrow.mapInPandas(extract, AUDIO_PCM_SCHEMA)


VIDEO_META_SCHEMA = (
    "doc_id bigint, major_brand string, timescale int, duration_ms bigint, "
    "n_tracks int, width int, height int, n_frames bigint"
)


def make_video_fixture(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload) synthetic video fixture: real ISO-BMFF bytes
    (ftyp + moov with a video and an audio trak, 64-bit largesize on
    every third doc, mvhd version 1 on every fourth) whose metadata
    follows ``mp4_fixture_params``' closed forms — the video analogue
    of ``make_image_fixture``/``make_audio_fixture``."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ais_data_pipeline_spark.operators.mp4 import encode_mp4

        for pdf in batches:
            ids = [int(i) for i in pdf[id_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "payload": [encode_mp4(i) for i in ids],
                }
            )

    from ais_data_pipeline_spark.operators.util import spread_to_parallelism

    narrow = spread_to_parallelism(df.select(id_col))
    return narrow.mapInPandas(encode, "doc_id bigint, payload binary")


def decode_video_meta(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """REAL video container parse via mapInPandas (round 11): the
    ISO-BMFF box walk (``operators.mp4``) replaces the payload-size
    stub for the numbers a frame-sampling plan needs — true frame
    count (stsz), duration (mvhd), resolution (tkhd). Decoding coded
    samples stays codec work behind the honest-stub line, exactly the
    image tier's PIL-hook convention. Feed ``n_frames`` into the same
    explode that ``frame_sample_plan`` builds and the downstream
    fan-out is unchanged."""
    from ais_data_pipeline_spark.operators.mp4 import parse_mp4_meta

    cols = (
        "doc_id", "major_brand", "timescale", "duration_ms",
        "n_tracks", "width", "height", "n_frames",
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in cols}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                m = parse_mp4_meta(bytes(payload))
                out["doc_id"].append(int(doc_id))
                out["major_brand"].append(m["major_brand"])
                out["timescale"].append(m["timescale"])
                out["duration_ms"].append(m["duration_ms"])
                out["n_tracks"].append(m["n_tracks"])
                out["width"].append(m["width"])
                out["height"].append(m["height"])
                out["n_frames"].append(m["n_samples"])
            yield pd.DataFrame(out)

    from ais_data_pipeline_spark.operators.util import spread_to_parallelism

    narrow = spread_to_parallelism(df.select(id_col, payload_col))
    return narrow.mapInPandas(extract, VIDEO_META_SCHEMA)


def frame_sample_plan(
    df: DataFrame,
    every_n_frames: int,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Video frame-sampling PLAN: emits (doc_id, frame_index) rows for a
    stub frame count derived from payload size (real impl reads the
    container header). Downstream decode joins back on doc_id and seeks
    frame_index — the fan-out happens in the engine, the codec in the
    UDF."""
    n_frames = (F.length(F.col(payload_col)) / F.lit(16)).cast("int")
    return df.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every_n_frames))
        ).alias("frame_index"),
    )


KEYFRAME_SAMPLE_SCHEMA = (
    "doc_id bigint, frame_index bigint, byte_offset bigint, frame_bytes bigint"
)


def make_video_sample_fixture(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload) fixture of MP4s with REAL coded-sample
    plumbing (stsz/stsc/stco|co64/stss + an mdat whose bytes live at
    the advertised offsets) — the keyframe-sampling analogue of
    ``make_video_fixture``."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ais_data_pipeline_spark.operators.mp4 import encode_mp4_samples

        for pdf in batches:
            ids = [int(i) for i in pdf[id_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "payload": [encode_mp4_samples(i) for i in ids],
                }
            )

    from ais_data_pipeline_spark.operators.util import spread_to_parallelism

    narrow = spread_to_parallelism(df.select(id_col))
    return narrow.mapInPandas(encode, "doc_id bigint, payload binary")


def container_keyframe_offsets(data: bytes) -> list[tuple[int, int, int]]:
    """(frame_index, byte_offset, size) of every key frame — the
    container-agnostic dispatch (r14): RIFF/AVI payloads walk the
    idx1/movi index, everything else the MP4 stbl/moof tables. Both
    return the identical work-list shape, so the engine-side
    extraction contract is container-independent."""
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        from ais_data_pipeline_spark.operators.avi import avi_keyframe_offsets

        return avi_keyframe_offsets(data)
    from ais_data_pipeline_spark.operators.mp4 import video_keyframe_offsets

    return video_keyframe_offsets(data)


def keyframe_sample_plan(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Keyframe-aware frame sampling from the REAL container (round
    12): one mapInPandas walk of each MP4's stsz/stsc/stco(co64)/stss
    tables emits (doc_id, frame_index, byte_offset, frame_bytes) for
    every SYNC sample — the work-list an actual video-corpus pipeline
    hands its decode UDF, each row a seekable, independently-decodable
    frame. Replaces the index-only fan-out: downstream decode reads
    ``frame_bytes`` at ``byte_offset`` instead of scanning the whole
    blob. Stateless per row, zero shuffle; at 100 TB each task walks
    one Arrow batch of containers (headers only — the mdat bytes are
    never materialized here)."""
    cols = ("doc_id", "frame_index", "byte_offset", "frame_bytes")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in cols}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                for fi, off, sz in container_keyframe_offsets(bytes(payload)):
                    out["doc_id"].append(int(doc_id))
                    out["frame_index"].append(fi)
                    out["byte_offset"].append(off)
                    out["frame_bytes"].append(sz)
            yield pd.DataFrame(out, dtype="int64")

    from ais_data_pipeline_spark.operators.util import spread_to_parallelism

    narrow = spread_to_parallelism(df.select(id_col, payload_col))
    return narrow.mapInPandas(extract, KEYFRAME_SAMPLE_SCHEMA)


def extract_frame_blobs(
    df: DataFrame,
    frames: DataFrame | None = None,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keyframe BYTE extraction, engine-side: join the (doc,
    frame_index, byte_offset, frame_bytes) work-list back to the
    payload table and slice each frame with the codegen'd BINARY
    ``substring`` — after the header walk produced the offsets, no
    Python ever touches the media bytes. ``frames`` defaults to
    ``keyframe_sample_plan(df)``. Returns (doc_id, frame_index,
    frame_blob) — the rows a decode/encoder UDF consumes, each blob an
    independently-decodable coded frame.

    Scale shape: the work-list is tiny relative to the payloads (one
    row per sync sample), so it broadcasts and the payload table never
    shuffles; per-payload blob slicing happens where the payload
    already lives. The int casts are safe — a single in-memory payload
    is < 2 GiB in Spark by construction."""
    if frames is None:
        frames = keyframe_sample_plan(df, payload_col, id_col)
    blob = F.expr(
        f"substring({payload_col}, cast(byte_offset + 1 as int), "
        "cast(frame_bytes as int))"
    )
    return (
        df.select(id_col, payload_col)
        .join(F.broadcast(frames), id_col)
        .select(id_col, "frame_index", blob.alias("frame_blob"))
    )


def frame_embedding_col(
    id_col=None, frame_col=None, dim: int = 8, prefix: str = ""
):
    """Deterministic per-frame embedding STUB: dim doubles in [-1, 1)
    derived from md5(doc:frame:j) — the stand-in for a real
    decode→encoder UDF (pixel decode itself is real for PPM/BMP via
    ``decode_pixels_array``; the encoder model is what no container
    library provides). What
    IS real, and what this column proves end-to-end, is the Spark-side
    plumbing a frame-embedding pipeline needs: the fan-out work-list,
    a fixed-width vector column produced per (doc, frame) row inside
    whole-stage codegen, and similarity search consuming it — swap the
    expression for a Pandas-UDF encoder and nothing downstream
    changes.

    Engine-portable arithmetic (same recipe as the md5_60 hash family):
    h = first 15 hex digits of md5 as a 60-bit int, then
    ``(double(h) / 2^60) * 2.0 - 1.0`` — the int→double rounding and
    the power-of-two division are identical IEEE ops in Spark, Python,
    and DuckDB, so a SQL oracle replays the vectors bit-for-bit.

    ``prefix`` namespaces the hash key (e.g. ``"c:"`` for text-chunk
    embeddings) so two stub encoders over the same (id, index) space
    don't produce the identical vector set."""
    from pyspark.sql import functions as F

    id_col = id_col if id_col is not None else F.col("doc_id")
    frame_col = frame_col if frame_col is not None else F.col("frame_index")
    comps = []
    for j in range(dim):
        h = F.conv(
            F.substring(
                F.md5(
                    F.format_string(prefix + "%d:%d:" + str(j), id_col, frame_col)
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        comps.append(
            h.cast("double") / F.lit(float(2**60)) * F.lit(2.0) - F.lit(1.0)
        )
    return F.array(*comps)


FRAME_PIXEL_SCHEMA = (
    "doc_id bigint, frame_index bigint, width int, height int, "
    "n_channels int, format string, sum_r bigint, sum_g bigint, "
    "sum_b bigint"
)


def make_mjpeg_video_fixture(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload) fixture of Motion-JPEG containers: every
    coded sample is a REAL baseline JPEG at real advertised offsets —
    the corpus that proves the keyframe work-list feeds a decoder.
    Round 14: doc_id % 4 == 1 docs are AVI (idx1-indexed 00dc chunks),
    the rest MP4 (stco offsets) — the SAME closed-form frames either
    way, so the oracle is container-independent and the fan-out
    contract is proven container-agnostic."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ais_data_pipeline_spark.operators.avi import encode_avi_mjpeg
        from ais_data_pipeline_spark.operators.mp4 import encode_mp4_mjpeg

        for pdf in batches:
            ids = [int(i) for i in pdf[id_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "payload": [
                        encode_avi_mjpeg(i) if i % 4 == 1 else encode_mp4_mjpeg(i)
                        for i in ids
                    ],
                }
            )

    from ais_data_pipeline_spark.operators.util import spread_to_parallelism

    narrow = spread_to_parallelism(df.select(id_col))
    return narrow.mapInPandas(encode, "doc_id bigint, payload binary")


def decode_frame_pixels(
    df: DataFrame,
    blob_col: str = "frame_blob",
    id_col: str = "doc_id",
    frame_col: str = "frame_index",
    frame_decoder=None,
) -> DataFrame:
    """Per-FRAME pixel decode (round 13): the (doc_id, frame_index,
    frame_blob) rows ``extract_frame_blobs`` emits go through the same
    magic-dispatched decoder as the image tier — dims, format tag, and
    exact per-channel uint8 sums per frame. This closes the video
    tier end-to-end: container walk -> engine-side blob slice ->
    real pixel decode, with Python touching only the coded frame
    bytes it must decode. Stateless per row; at 100 TB each task
    decodes one Arrow batch of frames wherever the payloads already
    live (the work-list join broadcast upstream, zero payload
    shuffle).

    ``frame_decoder`` (round 15) is the video tier's analogue of the
    audio tier's ``lossy_decoder`` / the image tier's PIL hook: an
    optional callable ``bytes -> HxWx3 uint8 RGB ndarray`` (or
    ``(ndarray, format_tag)``) taken when the native dispatch cannot
    decode a coded frame (H.264/H.265/VP9/AV1 — inter-coded video
    whose output is decoder-implementation-dependent, so a hand-built
    decode could never be oracle-checked). Slot PyAV/ffmpeg here
    without touching the operator contract; the stats flow through
    the identical numpy path."""
    import numpy as np

    cols = (
        "doc_id", "frame_index", "width", "height", "n_channels",
        "format", "sum_r", "sum_g", "sum_b",
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in cols}
            for doc_id, fi, blob in zip(
                pdf[id_col], pdf[frame_col], pdf[blob_col]
            ):
                try:
                    arr, fmt = decode_pixels_array(bytes(blob))
                except (NotImplementedError, ValueError):
                    if frame_decoder is None:
                        raise
                    decoded = frame_decoder(bytes(blob))
                    arr, fmt = (
                        decoded
                        if isinstance(decoded, tuple)
                        else (decoded, "external")
                    )
                    arr = np.asarray(arr, dtype=np.uint8)
                s = arr.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                out["doc_id"].append(int(doc_id))
                out["frame_index"].append(int(fi))
                out["height"].append(arr.shape[0])
                out["width"].append(arr.shape[1])
                out["n_channels"].append(arr.shape[2])
                out["format"].append(fmt)
                out["sum_r"].append(int(s[0]))
                out["sum_g"].append(int(s[1]))
                out["sum_b"].append(int(s[2]))
            yield pd.DataFrame(out)

    from ais_data_pipeline_spark.operators.util import spread_to_parallelism

    narrow = spread_to_parallelism(df.select(id_col, frame_col, blob_col))
    return narrow.mapInPandas(extract, FRAME_PIXEL_SCHEMA)
