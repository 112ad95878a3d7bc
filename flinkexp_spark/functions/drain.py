"""Strict member-drain loop over the stdlib decompressor objects.

zlib, bz2 and lzma decode in C, but their one-shot ``decompress``
helpers are lenient: they stop at the first bytes that do not start a
new member and return what they have.  Trailing garbage vanishes, and so
does every .xz stream after a Stream Padding (``lzma.decompress`` on two
streams with 8 zero bytes between them returns only the first).  The
wrappers in functions/inflate.py, bzip2.py, lzma2.py and xz.py decode
through this module instead: every member must reach its end marker, and
only whole members and zero padding may follow it.
"""

from __future__ import annotations

import lzma
import zlib
from collections.abc import Callable
from typing import Any

# bz2 reports corrupt input as OSError
_DECODE_ERRORS = (zlib.error, lzma.LZMAError, OSError)


class CodecError(ValueError):
    """Malformed compressed payload; the message starts with the format."""


def drain_one(decoder: Any, data: bytes, fmt: str) -> tuple[bytes, bytes]:
    """Decode one member from the front of ``data`` with a fresh
    decompressor object -> (plaintext, bytes after the member)."""
    try:
        plain = decoder.decompress(data)
    except _DECODE_ERRORS as exc:
        raise CodecError(f"{fmt}: {exc}") from None
    if not decoder.eof:
        raise CodecError(f"{fmt}: truncated stream")
    return plain, decoder.unused_data


def drain(
    new_decoder: Callable[[], Any], data: bytes, fmt: str, padding: int = 1
) -> bytes:
    """Decode every concatenated member of ``data``.  Zero bytes between
    or after members are padding, accepted only in multiples of
    ``padding`` bytes; any other trailing byte must start a member."""
    out = []
    while True:
        plain, rest = drain_one(new_decoder(), data, fmt)
        out.append(plain)
        data = rest.lstrip(b"\0")
        pad = len(rest) - len(data)
        if pad % padding:
            raise CodecError(
                f"{fmt}: {pad} padding bytes, not a multiple of {padding}"
            )
        if not data:
            return b"".join(out)
