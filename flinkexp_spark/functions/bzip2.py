"""bzip2 decode over stdlib ``bz2``, strict about what follows a stream.

``bz2.decompress`` drops trailing garbage silently; this wrapper raises
:class:`~flinkexp_spark.functions.drain.CodecError` for it, for a
truncated stream and for a bad block or stream CRC.
"""

from __future__ import annotations

import bz2

from flinkexp_spark.functions.drain import drain


def bz2_decompress(data: bytes) -> bytes:
    """Decode one or more concatenated bzip2 streams."""
    return drain(bz2.BZ2Decompressor, data, "bzip2")
