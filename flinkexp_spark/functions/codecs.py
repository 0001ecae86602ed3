"""Stdlib decoders for the zlib, gzip, bzip2 and xz payload lanes.

Each entry point drives the stdlib *decompressor object* stream by stream
and checks what the one-shot ``zlib``/``bz2``/``lzma.decompress`` calls let
through: they drop trailing garbage, and ``lzma.decompress`` stops at xz
Stream Padding, so a padded two-stream payload decodes to its first half.
Every malformed payload raises :class:`CodecError`.
"""

from __future__ import annotations

import bz2
import lzma
import zlib
from functools import partial

_STDLIB_ERRORS = (zlib.error, OSError, EOFError, ValueError, lzma.LZMAError)


class CodecError(ValueError):
    """Empty, truncated, corrupt or trailing-garbage compressed payload."""


def _streams(data: bytes, new, *, multi: bool, padded: bool = False) -> bytes:
    """Decode back-to-back streams, each with a fresh ``new()`` decompressor."""
    if not data:
        raise CodecError("empty payload")
    out = []
    while data:
        d = new()
        try:
            out.append(d.decompress(data))
        except _STDLIB_ERRORS as exc:
            raise CodecError(f"corrupt stream: {exc}") from exc
        if not d.eof:
            raise CodecError("truncated stream")
        data = d.unused_data
        if padded:
            pad = len(data) - len(data.lstrip(b"\0"))
            if pad % 4:
                raise CodecError(f"{pad} bytes of stream padding, not a multiple of 4")
            data = data[pad:]
        if data and not multi:
            raise CodecError(f"{len(data)} trailing bytes after the stream")
    return b"".join(out)


def zlib_decompress(data: bytes) -> bytes:
    """One zlib (RFC 1950) stream; trailing bytes are an error."""
    return _streams(data, zlib.decompressobj, multi=False)


def gzip_decompress(data: bytes) -> bytes:
    """One or more concatenated gzip (RFC 1952) members."""
    return _streams(data, partial(zlib.decompressobj, 31), multi=True)


def bz2_decompress(data: bytes) -> bytes:
    """One or more concatenated bzip2 streams."""
    return _streams(data, bz2.BZ2Decompressor, multi=True)


def xz_decompress(data: bytes) -> bytes:
    """One or more .xz streams, each optionally followed by Stream Padding."""
    new = partial(lzma.LZMADecompressor, lzma.FORMAT_XZ)
    return _streams(data, new, multi=True, padded=True)
