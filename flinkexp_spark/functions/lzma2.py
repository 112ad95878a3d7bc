"""Raw LZMA2 chunk decode (xz file-format §5.3.1) over stdlib ``lzma``."""

from __future__ import annotations

import lzma

from flinkexp_spark.functions.drain import drain_one

# Raw LZMA2 carries no dictionary size.  A decoder dictionary at least as
# large as the encoder's decodes every stream; 64 MiB is what preset 9
# (the largest preset) writes.
_DICT_SIZE = 1 << 26


def lzma2_decode_chunks(
    data: bytes, pos: int, end: int | None
) -> tuple[bytes, int]:
    """Decode the LZMA2 chunk sequence in ``data[pos:end]`` through its
    0x00 end marker -> (plaintext, offset just past the end marker)."""
    end = len(data) if end is None else end
    decoder = lzma.LZMADecompressor(
        lzma.FORMAT_RAW,
        filters=[{"id": lzma.FILTER_LZMA2, "dict_size": _DICT_SIZE}],
    )
    plain, rest = drain_one(decoder, data[pos:end], "lzma2")
    return plain, end - len(rest)
