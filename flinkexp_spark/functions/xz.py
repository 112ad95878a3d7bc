""".xz decode over stdlib ``lzma``, with the multi-stream rules of the
xz file format: streams may be concatenated, separated or followed by
zero Stream Padding in multiples of 4 bytes.  ``lzma.decompress`` stops
at the first padding and drops every later stream; this wrapper decodes
them all and raises :class:`~flinkexp_spark.functions.drain.CodecError`
for truncation, a failed integrity check, misaligned padding or any
other trailing byte.
"""

from __future__ import annotations

import functools
import lzma

from flinkexp_spark.functions.drain import drain


def xz_decompress(data: bytes) -> bytes:
    """Decode one or more concatenated .xz streams."""
    new_decoder = functools.partial(lzma.LZMADecompressor, lzma.FORMAT_XZ)
    return drain(new_decoder, data, "xz", padding=4)
