"""zlib (RFC 1950) and gzip (RFC 1952) decode over stdlib ``zlib``.

Strict where ``zlib.decompress`` and ``gzip.decompress`` are lenient
(see functions/drain.py): a truncated stream, a bad Adler-32/CRC-32 or
ISIZE, and any non-zero byte after the last member raise
:class:`~flinkexp_spark.functions.drain.CodecError`.
"""

from __future__ import annotations

import functools
import zlib

from flinkexp_spark.functions.drain import CodecError, drain, drain_one


def zlib_decompress(data: bytes) -> bytes:
    """Decode one zlib stream; nothing may follow it."""
    plain, rest = drain_one(zlib.decompressobj(), data, "zlib")
    if rest:
        raise CodecError(f"zlib: {len(rest)} trailing bytes")
    return plain


def gzip_decompress(data: bytes) -> bytes:
    """Decode a gzip file: one or more concatenated members."""
    return drain(functools.partial(zlib.decompressobj, wbits=31), data, "gzip")
