"""zstd through pyarrow's libzstd (functions/zstd.py) vs the REAL zstd binary.

This environment ships an actual ``zstd`` executable, so the frames are
pinned in BOTH directions:

* every frame OUR encoder emits must decode byte-identical under the real
  binary;
* the real binary's output, raw blocks and compressed ``-19`` blocks
  alike, must decode byte-identical here.

Malformed payloads raise :class:`ZstdError` with a ``zstd:`` message.
"""

from __future__ import annotations

import random
import shutil
import subprocess

import pytest

from flinkexp_spark.functions.zstd import (
    ZstdError,
    zstd_compress,
    zstd_decompress,
    zstd_skippable_frame,
)

_ZSTD_BIN = shutil.which("zstd")
needs_zstd = pytest.mark.skipif(_ZSTD_BIN is None, reason="no zstd binary")


def _real_decode(blob: bytes) -> bytes:
    p = subprocess.run([_ZSTD_BIN, "-d", "-c"], input=blob, capture_output=True)
    assert p.returncode == 0, p.stderr.decode()[:300]
    return p.stdout


def _real_encode(data: bytes, *flags: str) -> bytes:
    p = subprocess.run([_ZSTD_BIN, "-c", *flags], input=data, capture_output=True)
    assert p.returncode == 0, p.stderr.decode()[:300]
    return p.stdout


def _corpora():
    rng = random.Random(20260816)
    out = []
    for n in (0, 1, 255, 256, 300, 5000, 70000):
        out.append(bytes(rng.randrange(256) for _ in range(n)))
        out.append(bytes(((i // 150) * 17) % 256 for i in range(n)))  # RLE runs
        out.append(b"\x00" * n)
    return out


def test_stored_frames_roundtrip_self() -> None:
    for data in _corpora():
        assert zstd_decompress(zstd_compress(data)) == data


@needs_zstd
def test_stored_frames_accepted_by_real_zstd() -> None:
    for data in _corpora():
        assert _real_decode(zstd_compress(data)) == data


@needs_zstd
def test_walker_decodes_real_zstd_raw_blocks() -> None:
    """The reference encoder stores incompressible input as raw blocks;
    the decoder must read its actual output byte-identical."""
    rng = random.Random(7)
    data = bytes(rng.randrange(256) for _ in range(200_000))
    assert zstd_decompress(_real_encode(data)) == data


@needs_zstd
def test_real_compressed_frame_decodes_to_its_input() -> None:
    """Compressible data makes the reference emit Compressed_Blocks
    (FSE/Huffman sequences); ``zstd -19`` output must decode exactly."""
    data = b"compress me " * 5000 + bytes(range(256)) * 40
    frame = _real_encode(data, "-19")
    assert len(frame) < len(data) // 10  # really compressed, not stored
    assert zstd_decompress(frame) == data


def test_multi_frame_and_skippable() -> None:
    a, b = b"alpha" * 100, bytes(range(250))
    joined = zstd_compress(a) + zstd_skippable_frame(b"metadata!", 3) + zstd_compress(b)
    assert zstd_decompress(joined) == a + b
    assert zstd_decompress(zstd_skippable_frame(b"x", 15) + zstd_compress(a)) == a


def test_error_paths() -> None:
    good = zstd_compress(b"payload" * 100)
    cases = {
        b"": "empty",
        b"\x28": "truncated",
        b"\x00\x00\x00\x00" + b"\x00" * 8: "unknown frame descriptor",
        good[:10]: "truncated",
        good + b"trailing garbage": "unknown frame descriptor",
        # reserved Frame_Header_Descriptor bit
        good[:4] + bytes([good[4] | 0x08]) + good[5:]: "unsupported",
    }
    for blob, reason in cases.items():
        with pytest.raises(ZstdError, match=f"(?i)^zstd: .*{reason}"):
            zstd_decompress(blob)
    with pytest.raises(ZstdError, match="^zstd: .*nibble"):
        zstd_skippable_frame(b"", 16)


@needs_zstd
def test_corrupt_content_checksum_is_rejected() -> None:
    bad = bytearray(_real_encode(b"payload" * 100, "--check"))
    bad[-1] ^= 0xFF  # the frame's last 4 bytes are its content checksum
    with pytest.raises(ZstdError, match="^zstd: .*checksum"):
        zstd_decompress(bytes(bad))


def test_long_rle_runs_split_at_block_maximum_size() -> None:
    """Runs far longer than the 128 KB Block_Maximum_Size round-trip."""
    data = b"\xaa" * (3 * 1024 * 1024) + b"tail" + b"\x07" * 200_000
    assert zstd_decompress(zstd_compress(data)) == data


@needs_zstd
def test_split_rle_frame_accepted_by_real_zstd() -> None:
    data = b"\x55" * (1024 * 1024) + b"x"
    assert _real_decode(zstd_compress(data)) == data
    assert zstd_decompress(_real_encode(data)) == data
