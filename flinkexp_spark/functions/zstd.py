"""Zstandard (RFC 8878) through pyarrow's bundled libzstd.

Python before 3.14 has no stdlib zstd module, but pyarrow ships the
reference library.  :func:`zstd_decompress` decodes every concatenated
frame and skips skippable frames; truncation and trailing garbage raise
:class:`ZstdError`.  :func:`zstd_skippable_frame` builds the metadata
frames the fixtures interleave (RFC 8878 §3.1.2).
"""

from __future__ import annotations

import struct

import pyarrow as pa

_SKIPPABLE_LO = 0x184D2A50


class ZstdError(ValueError):
    """Malformed zstd payload; the message starts with the format."""


def zstd_compress(data: bytes) -> bytes:
    """One zstd frame holding ``data``."""
    return pa.compress(data, "zstd", asbytes=True)


def zstd_decompress(data: bytes) -> bytes:
    """Decode one or more concatenated zstd frames."""
    if not data:
        raise ZstdError("zstd: empty payload")
    try:
        return pa.CompressedInputStream(pa.BufferReader(data), "zstd").read()
    except OSError as exc:
        raise ZstdError(f"zstd: {exc}") from None


def zstd_skippable_frame(payload: bytes, nibble: int = 0) -> bytes:
    """A skippable frame carrying ``payload``; ``nibble`` picks one of the
    16 skippable magics."""
    if not 0 <= nibble <= 0xF:
        raise ZstdError("zstd: skippable magic nibble out of range")
    return struct.pack("<II", _SKIPPABLE_LO + nibble, len(payload)) + payload
