"""functions/codecs.py: every payload shape the decode queries use round-trips,
and every malformed payload raises CodecError."""

from __future__ import annotations

import bz2
import gzip
import io
import lzma
import zlib

import pytest

from flinkexp_spark.functions.codecs import (
    CodecError,
    bz2_decompress,
    gzip_decompress,
    xz_decompress,
    zlib_decompress,
)

PLAIN = bytes((7 + 3 * (i % 64) + i // 500) % 256 for i in range(4000))
HALF = len(PLAIN) // 2


def _fixed_huffman(data: bytes) -> bytes:
    c = zlib.compressobj(9, zlib.DEFLATED, 15, 9, zlib.Z_FIXED)
    return c.compress(data) + c.flush()


def _gzip_fname(data: bytes) -> bytes:
    buf = io.BytesIO()
    with gzip.GzipFile(filename="doc.bin", mode="wb", fileobj=buf, mtime=0) as f:
        f.write(data)
    return buf.getvalue()


def _xz(data: bytes, check: int = lzma.CHECK_CRC64) -> bytes:
    return lzma.compress(data, check=check)


def _flip(data: bytes, at: int) -> bytes:
    out = bytearray(data)
    out[at] ^= 0x55
    return bytes(out)


ZLIB = zlib.compress(PLAIN, 9)
GZIP = gzip.compress(PLAIN, 9, mtime=0)
BZ2 = bz2.compress(PLAIN, 9)
XZ = _xz(PLAIN)
XZ_HEAD, XZ_TAIL = _xz(PLAIN[:HALF]), _xz(PLAIN[HALF:], lzma.CHECK_NONE)

CASES = {
    # zlib: exactly one stream, in each DEFLATE block type
    "zlib-stored": (zlib_decompress, zlib.compress(PLAIN, 0), PLAIN),
    "zlib-dynamic": (zlib_decompress, ZLIB, PLAIN),
    "zlib-fixed": (zlib_decompress, _fixed_huffman(PLAIN), PLAIN),
    "zlib-empty": (zlib_decompress, b"", CodecError),
    "zlib-truncated": (zlib_decompress, ZLIB[:-1], CodecError),
    "zlib-trailing": (zlib_decompress, ZLIB + b"\x00", CodecError),
    "zlib-two-streams": (zlib_decompress, ZLIB + ZLIB, CodecError),
    "zlib-flipped-adler32": (zlib_decompress, _flip(ZLIB, -1), CodecError),
    # gzip: optional header fields and several members
    "gzip-fname": (gzip_decompress, _gzip_fname(PLAIN), PLAIN),
    "gzip-members": (
        gzip_decompress,
        gzip.compress(PLAIN[:HALF], 9) + gzip.compress(PLAIN[HALF:], 0),
        PLAIN,
    ),
    "gzip-empty": (gzip_decompress, b"", CodecError),
    "gzip-truncated": (gzip_decompress, GZIP[: len(GZIP) // 2], CodecError),
    "gzip-trailing": (gzip_decompress, GZIP + b"junk", CodecError),
    "gzip-flipped-crc32": (gzip_decompress, _flip(GZIP, -5), CodecError),
    # bzip2: several streams
    "bz2-streams": (
        bz2_decompress,
        bz2.compress(PLAIN[:HALF], 9) + bz2.compress(PLAIN[HALF:], 1),
        PLAIN,
    ),
    "bz2-empty": (bz2_decompress, b"", CodecError),
    "bz2-truncated": (bz2_decompress, BZ2[:20], CodecError),
    "bz2-trailing": (bz2_decompress, BZ2 + b"junk junk junk", CodecError),
    "bz2-flipped": (bz2_decompress, _flip(BZ2, len(BZ2) // 2), CodecError),
    # xz: all four check types, and Stream Padding in multiples of 4
    "xz-crc64": (xz_decompress, XZ, PLAIN),
    "xz-crc32": (xz_decompress, _xz(PLAIN, lzma.CHECK_CRC32), PLAIN),
    "xz-sha256": (xz_decompress, _xz(PLAIN, lzma.CHECK_SHA256), PLAIN),
    "xz-none": (xz_decompress, _xz(PLAIN, lzma.CHECK_NONE), PLAIN),
    "xz-padding-4": (xz_decompress, XZ_HEAD + bytes(4) + XZ_TAIL, PLAIN),
    "xz-padding-8": (xz_decompress, XZ_HEAD + bytes(8) + XZ_TAIL, PLAIN),
    "xz-padding-12": (xz_decompress, XZ_HEAD + bytes(12) + XZ_TAIL, PLAIN),
    "xz-trailing-padding": (xz_decompress, XZ + bytes(8), PLAIN),
    "xz-empty": (xz_decompress, b"", CodecError),
    "xz-truncated": (xz_decompress, XZ[:-1], CodecError),
    "xz-trailing": (xz_decompress, XZ + b"junk", CodecError),
    "xz-flipped": (xz_decompress, _flip(XZ, len(XZ) // 2), CodecError),
    "xz-padding-5": (xz_decompress, XZ_HEAD + bytes(5) + XZ_TAIL, CodecError),
    "xz-trailing-padding-3": (xz_decompress, XZ + bytes(3), CodecError),
    "xz-leading-padding": (xz_decompress, bytes(4) + XZ, CodecError),
}


@pytest.mark.parametrize("decompress, payload, expected", CASES.values(), ids=CASES)
def test_codec(decompress, payload, expected) -> None:
    if expected is CodecError:
        with pytest.raises(CodecError):
            decompress(payload)
    else:
        assert decompress(payload) == expected


def test_byte_stats_fails_on_corrupt_bzip2_row(spark) -> None:
    from flinkexp_spark.functions.multimodal import byte_stats

    df = spark.createDataFrame(
        [(1, BZ2), (2, _flip(BZ2, len(BZ2) // 2))], "doc_id long, payload binary"
    )
    assert byte_stats(df.limit(1), bz2_decompress).collect()[0]["n_bytes"] == len(PLAIN)
    with pytest.raises(Exception, match="CodecError"):
        byte_stats(df, bz2_decompress).collect()
