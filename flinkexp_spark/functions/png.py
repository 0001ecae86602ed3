"""Pure-python PNG codec — REAL lossless-image decode for the X5 path.

Extends the from-spec codec family (functions/jpeg.py — lossy DCT images,
functions/flac.py — lossless audio, functions/adpcm.py — ADPCM audio) with
the single most common image format in crawled corpora after JPEG.  Like
those modules this is a complete encoder + decoder written from the PUBLIC
format specification (PNG is ISO/IEC 15948 / W3C PNG, RFC 2083); fixtures
are synthesized by OUR encoder and decode is verified by exact-integer
oracles — PNG is lossless, so there is no epsilon anywhere.

Everything PNG needs is derivable or already in the standard library:

* chunk framing: length + 4-byte type + data + CRC-32 (the polynomial is
  the ubiquitous 0xEDB88320 reflected CRC — ``zlib.crc32``);
* pixel compression: DEFLATE (``zlib`` — stdlib, public);
* the five scanline filters (None/Sub/Up/Average/Paeth) are pure
  arithmetic; the Paeth predictor is three absolute differences;
* Adam7 interlacing is a fixed 8x8 sampling pattern — seven passes with
  (x_start, y_start, x_step, y_step) derivable from the spec's grid.

Scope handled: bit depth 8; color types 0 (greyscale), 2 (truecolor RGB),
3 (palette), 6 (RGBA); filter types 0-4 (the encoder can cycle all five
per scanline so one fixture exercises every unfilter path); interlace
methods 0 (null) and 1 (Adam7, filtered per pass as the spec requires);
IDAT split across multiple chunks.  Per-chunk CRC-32 is verified on
decode; bit depths 1/2/4/16 raise loudly (honest boundary — sub-byte
packing and 16-bit samples are mechanical but out of fixture scope).

Reference parity: the reference repo's scope is the query engine
(StreamSocket.scala:15-16 is its only code); the multimodal-column brief
is the driving requirement here.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from flinkexp_spark.functions.codecs import CodecError, zlib_decompress

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

# Channels per pixel by color type (bit depth 8 only).  Palette rows store
# 1-byte indices in the IDAT stream and expand to RGB on output.
_CHANNELS = {0: 1, 2: 3, 3: 1, 6: 4}

# Adam7: seven passes over the 8x8 tile, (x_start, y_start, x_step, y_step).
ADAM7_PASSES = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


class PngError(ValueError):
    """Malformed or unsupported PNG stream."""


# ---------------------------------------------------------------------------
# chunk framing
# ---------------------------------------------------------------------------


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _iter_chunks(data: bytes):
    """Yield (type, payload) after verifying each chunk's CRC-32."""
    pos = len(PNG_SIGNATURE)
    while pos < len(data):
        if pos + 8 > len(data):
            raise PngError("truncated chunk header")
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        end = pos + 8 + length
        if end + 4 > len(data):
            raise PngError(f"truncated {ctype!r} chunk")
        payload = data[pos + 8 : end]
        (crc,) = struct.unpack(">I", data[end : end + 4])
        if crc != (zlib.crc32(ctype + payload) & 0xFFFFFFFF):
            raise PngError(f"CRC mismatch in {ctype!r} chunk")
        yield ctype, payload
        pos = end + 4
        if ctype == b"IEND":
            if pos != len(data):
                raise PngError("trailing bytes after IEND")
            return
    raise PngError("missing IEND chunk")


# ---------------------------------------------------------------------------
# scanline filters (spec §9) — both directions
# ---------------------------------------------------------------------------


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor, vectorised over a scanline's byte positions."""
    a16 = a.astype(np.int16)
    b16 = b.astype(np.int16)
    c16 = c.astype(np.int16)
    p = a16 + b16 - c16
    pa, pb, pc = np.abs(p - a16), np.abs(p - b16), np.abs(p - c16)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def _filter_row(
    ftype: int, row: np.ndarray, prev: np.ndarray, bpp: int
) -> np.ndarray:
    """Apply filter ``ftype`` to one raw scanline (uint8, len = W*bpp)."""
    left = np.zeros_like(row)
    left[bpp:] = row[:-bpp]
    upleft = np.zeros_like(prev)
    upleft[bpp:] = prev[:-bpp]
    if ftype == 0:
        return row.copy()
    if ftype == 1:
        return row - left
    if ftype == 2:
        return row - prev
    if ftype == 3:
        avg = (left.astype(np.uint16) + prev.astype(np.uint16)) >> 1
        return row - avg.astype(np.uint8)
    if ftype == 4:
        return row - _paeth(left, prev, upleft)
    raise PngError(f"unknown filter type {ftype}")


def _unfilter_row(
    ftype: int, cur: np.ndarray, prev: np.ndarray, bpp: int
) -> np.ndarray:
    """Invert filter ``ftype`` in place semantics: returns the raw row."""
    if ftype == 0:
        return cur
    if ftype == 2:
        return cur + prev
    n = len(cur)
    out = np.empty(n, dtype=np.uint8)
    if ftype == 1:
        out[:bpp] = cur[:bpp]
        for i in range(bpp, n):  # sequential: raw(x) needs raw(x-bpp)
            out[i] = (int(cur[i]) + int(out[i - bpp])) & 0xFF
        return out
    if ftype == 3:
        for i in range(n):
            left = int(out[i - bpp]) if i >= bpp else 0
            out[i] = (int(cur[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
        return out
    if ftype == 4:
        for i in range(n):
            a = int(out[i - bpp]) if i >= bpp else 0
            c = int(prev[i - bpp]) if i >= bpp else 0
            b = int(prev[i])
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out[i] = (int(cur[i]) + pred) & 0xFF
        return out
    raise PngError(f"unknown filter type {ftype}")


# ---------------------------------------------------------------------------
# Adam7 pass geometry
# ---------------------------------------------------------------------------


def _pass_dims(width: int, height: int) -> list[tuple[int, int]]:
    """(pass_width, pass_height) for the 7 Adam7 passes; 0 means empty."""
    dims = []
    for x0, y0, dx, dy in ADAM7_PASSES:
        pw = (width - x0 + dx - 1) // dx if width > x0 else 0
        ph = (height - y0 + dy - 1) // dy if height > y0 else 0
        dims.append((pw, ph))
    return dims


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _filter_image(
    pix: np.ndarray, bpp: int, filter_seed: int
) -> bytes:
    """Filter a (H, W*bpp) byte image, cycling filter types per scanline
    from ``filter_seed`` so every unfilter path appears in any image with
    >= 5 rows."""
    h = pix.shape[0]
    out = bytearray()
    prev = np.zeros(pix.shape[1], dtype=np.uint8)
    for y in range(h):
        ftype = (y + filter_seed) % 5
        out.append(ftype)
        out += _filter_row(ftype, pix[y], prev, bpp).tobytes()
        prev = pix[y]
    return bytes(out)


def encode_png(
    pixels: np.ndarray,
    color_type: int,
    palette: np.ndarray | None = None,
    interlace: int = 0,
    filter_seed: int = 0,
    idat_split: int = 0,
) -> bytes:
    """Encode a uint8 image as PNG (bit depth 8).

    ``pixels``: (H, W) for color types 0/3 (grey values / palette indices)
    or (H, W, C) for 2 (C=3) / 6 (C=4).  ``palette``: (N, 3) uint8,
    required for color type 3.  ``interlace``: 0 or 1 (Adam7).
    ``filter_seed`` rotates the per-scanline filter cycle.  ``idat_split``
    > 0 splits the compressed stream into IDAT chunks of that many bytes.
    """
    if color_type not in _CHANNELS:
        raise PngError(f"unsupported color type {color_type}")
    ch = _CHANNELS[color_type]
    pix = np.asarray(pixels, dtype=np.uint8)
    if ch == 1 and pix.ndim == 2:
        pix = pix[:, :, None]
    if pix.ndim != 3 or pix.shape[2] != ch:
        raise PngError(
            f"pixel array shape {pix.shape} does not match color type "
            f"{color_type} (expects {ch} channel(s))"
        )
    h, w = pix.shape[:2]
    if h == 0 or w == 0:
        raise PngError("zero-dimension image")
    if color_type == 3:
        if palette is None:
            raise PngError("palette required for color type 3")
        palette = np.asarray(palette, dtype=np.uint8)
        if palette.ndim != 2 or palette.shape[1] != 3 or len(palette) > 256:
            raise PngError(f"bad palette shape {palette.shape}")
        if int(pix.max()) >= len(palette):
            raise PngError("palette index out of range")

    flat = pix.reshape(h, w * ch)  # bytes per scanline
    if interlace == 0:
        raw = _filter_image(flat, ch, filter_seed)
    elif interlace == 1:
        # Each pass is an independent image: its own scanlines, its own
        # filter history (spec: "passes are filtered separately").
        parts = []
        for p, (x0, y0, dx, dy) in enumerate(ADAM7_PASSES):
            sub = pix[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue  # empty pass contributes nothing
            parts.append(
                _filter_image(
                    sub.reshape(sub.shape[0], sub.shape[1] * ch),
                    ch,
                    filter_seed + p,
                )
            )
        raw = b"".join(parts)
    else:
        raise PngError(f"unsupported interlace method {interlace}")

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, interlace)
    out = bytearray(PNG_SIGNATURE)
    out += _chunk(b"IHDR", ihdr)
    if color_type == 3:
        out += _chunk(b"PLTE", palette.tobytes())
    comp = zlib.compress(raw, 6)
    if idat_split and idat_split < len(comp):
        for i in range(0, len(comp), idat_split):
            out += _chunk(b"IDAT", comp[i : i + idat_split])
    else:
        out += _chunk(b"IDAT", comp)
    out += _chunk(b"IEND", b"")
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def _decode_subimage(
    stream: memoryview, w: int, h: int, ch: int
) -> tuple[np.ndarray, int]:
    """Unfilter one (possibly pass-) image of w x h pixels from ``stream``.
    Returns (pixels (h, w*ch) uint8, bytes consumed)."""
    rowbytes = w * ch
    need = h * (1 + rowbytes)
    if len(stream) < need:
        raise PngError("pixel stream shorter than image dimensions imply")
    out = np.empty((h, rowbytes), dtype=np.uint8)
    prev = np.zeros(rowbytes, dtype=np.uint8)
    pos = 0
    for y in range(h):
        ftype = stream[pos]
        pos += 1
        cur = np.frombuffer(stream[pos : pos + rowbytes], dtype=np.uint8)
        pos += rowbytes
        prev = _unfilter_row(int(ftype), cur.copy(), prev, ch)
        out[y] = prev
    return out, pos


def decode_png(data: bytes) -> tuple[np.ndarray, dict]:
    """Decode a PNG stream to (pixels, meta).

    ``pixels`` is (H, W, C) uint8 with C = 1 (grey), 3 (RGB — palette
    images are expanded through PLTE) or 4 (RGBA).  ``meta`` carries
    width/height/bit_depth/color_type/interlace/palette_size.  Every
    chunk CRC is verified; IHDR must come first; IDAT chunks concatenate;
    trailing garbage, truncation and bad dimensions all raise PngError.
    """
    if not isinstance(data, (bytes, bytearray)):
        data = bytes(data)
    if data[: len(PNG_SIGNATURE)] != PNG_SIGNATURE:
        raise PngError("bad PNG signature")

    ihdr = None
    palette = None
    idat = bytearray()
    for ctype, payload in _iter_chunks(data):
        if ihdr is None:
            if ctype != b"IHDR":
                raise PngError("first chunk is not IHDR")
            if len(payload) != 13:
                raise PngError("IHDR length != 13")
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif ctype == b"IHDR":
            raise PngError("duplicate IHDR")
        elif ctype == b"PLTE":
            if len(payload) % 3 or not payload:
                raise PngError("PLTE length not a positive multiple of 3")
            palette = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += payload
        elif ctype == b"IEND":
            break
        # ancillary chunks (tEXt, pHYs, ...) are skipped

    if ihdr is None:
        raise PngError("no IHDR chunk")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    if w == 0 or h == 0:
        raise PngError("zero-dimension image")
    if comp != 0 or filt != 0:
        raise PngError("unknown compression/filter method")
    if color_type not in _CHANNELS:
        raise PngError(f"unsupported color type {color_type}")
    if depth != 8:
        raise PngError(
            f"bit depth {depth} not supported (codec scope is 8-bit "
            "samples; 1/2/4/16 are an honest boundary, not silently wrong)"
        )
    if interlace not in (0, 1):
        raise PngError(f"unsupported interlace method {interlace}")
    if color_type == 3 and palette is None:
        raise PngError("palette image without PLTE chunk")
    if not idat:
        raise PngError("no IDAT data")

    try:
        raw = memoryview(zlib_decompress(bytes(idat)))
    except CodecError as exc:  # corrupt DEFLATE stream
        raise PngError(f"IDAT inflate failed: {exc}") from None

    ch = _CHANNELS[color_type]
    if interlace == 0:
        flat, used = _decode_subimage(raw, w, h, ch)
        if used != len(raw):
            raise PngError("trailing bytes after final scanline")
        img = flat.reshape(h, w, ch)
    else:
        img = np.empty((h, w, ch), dtype=np.uint8)
        pos = 0
        for (x0, y0, dx, dy), (pw, ph) in zip(
            ADAM7_PASSES, _pass_dims(w, h)
        ):
            if pw == 0 or ph == 0:
                continue
            sub, used = _decode_subimage(raw[pos:], pw, ph, ch)
            pos += used
            img[y0::dy, x0::dx] = sub.reshape(ph, pw, ch)
        if pos != len(raw):
            raise PngError("trailing bytes after final Adam7 pass")

    if color_type == 3:
        idx = img[:, :, 0]
        if int(idx.max()) >= len(palette):
            raise PngError("palette index out of range")
        img = palette[idx]  # (H, W, 3)

    meta = {
        "width": w,
        "height": h,
        "bit_depth": depth,
        "color_type": color_type,
        "interlace": interlace,
        "palette_size": 0 if palette is None else int(len(palette)),
    }
    return img, meta
