"""The strict stdlib codec wrappers (functions/inflate.py, bzip2.py,
lzma2.py, xz.py over functions/drain.py), table-driven.

Round-trips cover every container layout the multimodal_decode_* fixtures
generate; the rejection table covers truncation, trailing garbage, a
corrupt checksum and bad padding for each format.  The padded multi-stream
xz case and every trailing-garbage case fail against the lenient one-shot
``zlib``/``bz2``/``lzma.decompress``, which is what the wrappers exist to
prevent.  The last test runs every multimodal encoder and decoder closure
in a process that cannot import the package.
"""

from __future__ import annotations

import bz2
import gzip
import io
import lzma
import os
import pickle
import random
import subprocess
import sys
import tempfile
import zlib

import pytest

from flinkexp_spark.functions.bzip2 import bz2_decompress
from flinkexp_spark.functions.drain import CodecError
from flinkexp_spark.functions.inflate import gzip_decompress, zlib_decompress
from flinkexp_spark.functions.lzma2 import lzma2_decode_chunks
from flinkexp_spark.functions.xz import xz_decompress

# Closed-form plaintexts in the fixtures' shape: short value runs
# (bzip2's RLE1 stage), a period (LZ77 matches), and a random tail.
PLAIN = bytes((7 + 13 * ((i // 9) % 37)) % 256 for i in range(3000))
PLAIN += random.Random(20260816).randbytes(500)
HALF = len(PLAIN) // 2
GARBAGE = b"not the start of a member"


def _zlib_fixed(data: bytes) -> bytes:
    co = zlib.compressobj(9, zlib.DEFLATED, 15, 9, zlib.Z_FIXED)
    return co.compress(data) + co.flush()


def _gzip_fname(data: bytes) -> bytes:
    buf = io.BytesIO()
    with gzip.GzipFile(
        filename="doc7.bin", mode="wb", fileobj=buf, mtime=0
    ) as f:
        f.write(data)
    return buf.getvalue()


def _xz(data: bytes, check: int = lzma.CHECK_CRC64, **kw) -> bytes:
    return lzma.compress(data, format=lzma.FORMAT_XZ, check=check, **kw)


def _raw_lzma2(data: bytes, **filt) -> bytes:
    filt["id"] = lzma.FILTER_LZMA2
    return lzma.compress(data, format=lzma.FORMAT_RAW, filters=[filt])


def _lzma2(blob: bytes) -> bytes:
    plain, end = lzma2_decode_chunks(blob, 0, None)
    assert end == len(blob)  # consumption lands just past the end marker
    return plain


ROUNDTRIPS = {
    "zlib-stored": (zlib_decompress, lambda p: zlib.compress(p, 0)),
    "zlib-dynamic": (zlib_decompress, lambda p: zlib.compress(p, 9)),
    "zlib-fixed": (zlib_decompress, _zlib_fixed),
    "gzip-bare": (gzip_decompress, lambda p: gzip.compress(p, 9, mtime=0)),
    "gzip-fname": (gzip_decompress, _gzip_fname),
    "gzip-multi-member": (
        gzip_decompress,
        lambda p: gzip.compress(p[:HALF], 9) + gzip.compress(p[HALF:], 0),
    ),
    "bzip2-level1": (bz2_decompress, lambda p: bz2.compress(p, 1)),
    "bzip2-level9": (bz2_decompress, lambda p: bz2.compress(p, 9)),
    "bzip2-multi-stream": (
        bz2_decompress,
        lambda p: bz2.compress(p[:HALF], 9) + bz2.compress(p[HALF:], 1),
    ),
    "xz-crc32": (xz_decompress, lambda p: _xz(p, lzma.CHECK_CRC32)),
    "xz-crc64": (xz_decompress, lambda p: _xz(p, lzma.CHECK_CRC64)),
    "xz-sha256": (xz_decompress, lambda p: _xz(p, lzma.CHECK_SHA256)),
    "xz-none": (xz_decompress, lambda p: _xz(p, lzma.CHECK_NONE)),
    "xz-padded-multi-stream": (
        xz_decompress,
        lambda p: _xz(p[:HALF], lzma.CHECK_SHA256) + b"\0" * 8
        + _xz(p[HALF:], lzma.CHECK_NONE) + b"\0" * 4,
    ),
    "xz-preset0": (
        xz_decompress, lambda p: _xz(p, lzma.CHECK_CRC32, preset=0)
    ),
    "xz-preset9e": (
        xz_decompress,
        lambda p: _xz(p, lzma.CHECK_SHA256, preset=9 | lzma.PRESET_EXTREME),
    ),
    "lzma2-preset0": (_lzma2, lambda p: _raw_lzma2(p, preset=0)),
    "lzma2-preset6": (_lzma2, lambda p: _raw_lzma2(p, preset=6)),
    "lzma2-preset9e": (
        _lzma2, lambda p: _raw_lzma2(p, preset=9 | lzma.PRESET_EXTREME)
    ),
    "lzma2-lc0-lp2-pb1": (
        _lzma2, lambda p: _raw_lzma2(p, dict_size=1 << 16, lc=0, lp=2, pb=1)
    ),
}


@pytest.mark.parametrize("case", ROUNDTRIPS)
def test_roundtrip(case: str) -> None:
    decode, encode = ROUNDTRIPS[case]
    for plain in (PLAIN, PLAIN[:1], b""):
        assert decode(encode(plain)) == plain


def test_fixed_huffman_fixture_is_btype1() -> None:
    """Z_FIXED really emits fixed-Huffman blocks: the first block header
    (after the 2-byte zlib header) has BTYPE=1."""
    assert (_zlib_fixed(PLAIN)[2] >> 1) & 3 == 1


def _flip(blob: bytes, i: int) -> bytes:
    out = bytearray(blob)
    out[i] ^= 0x01
    return bytes(out)


def _xz_check_byte(blob: bytes) -> int:
    """Offset of the last byte of the (single) block's integrity check:
    the check ends where the Index starts, Backward Size bytes before the
    12-byte Stream Footer."""
    backward_size = (int.from_bytes(blob[-8:-4], "little") + 1) * 4
    return len(blob) - 12 - backward_size - 1


ZLIB = zlib.compress(PLAIN, 6)
GZIP = gzip.compress(PLAIN, 6)
BZIP2 = bz2.compress(PLAIN, 9)
XZ = _xz(PLAIN, lzma.CHECK_CRC64)
RAW = _raw_lzma2(PLAIN, preset=6)

REJECTS = {
    "zlib-truncated": (zlib_decompress, ZLIB[:-3], "truncated"),
    "zlib-trailing-garbage": (zlib_decompress, ZLIB + GARBAGE, "trailing"),
    "zlib-corrupt-adler32": (zlib_decompress, _flip(ZLIB, -1), "check"),
    "zlib-padding": (zlib_decompress, ZLIB + b"\0" * 4, "trailing"),
    "gzip-truncated": (gzip_decompress, GZIP[:-1], "truncated"),
    "gzip-trailing-garbage": (gzip_decompress, GZIP + GARBAGE, "header"),
    "gzip-corrupt-crc32": (gzip_decompress, _flip(GZIP, -5), "check"),
    "gzip-padding-then-partial-member": (
        gzip_decompress, GZIP + b"\0" * 3 + GZIP[:10], "truncated"
    ),
    "bzip2-truncated": (bz2_decompress, BZIP2[:-4], "truncated"),
    "bzip2-trailing-garbage": (bz2_decompress, BZIP2 + GARBAGE, "Invalid"),
    # bytes 10..13 are the first block's CRC (after "BZh9" + 6-byte magic)
    "bzip2-corrupt-block-crc": (bz2_decompress, _flip(BZIP2, 10), "Invalid"),
    "bzip2-padding-then-partial-stream": (
        bz2_decompress, BZIP2 + b"\0" * 3 + BZIP2[:10], "truncated"
    ),
    "xz-truncated": (xz_decompress, XZ[:-1], "truncated"),
    "xz-trailing-garbage": (xz_decompress, XZ + GARBAGE, "format"),
    "xz-corrupt-check": (
        xz_decompress, _flip(XZ, _xz_check_byte(XZ)), "Corrupt"
    ),
    "xz-padding-not-4-aligned": (
        xz_decompress, XZ + b"\0" * 3 + XZ, "multiple of 4"
    ),
    "xz-trailing-padding-not-4-aligned": (
        xz_decompress, XZ + b"\0" * 6, "multiple of 4"
    ),
    "lzma2-truncated": (_lzma2, RAW[:-1], "truncated"),
    "lzma2-corrupt-chunk": (_lzma2, _flip(RAW, len(RAW) // 2), "Corrupt"),
    # first chunk's control byte: reset state + props only, not the dictionary
    "lzma2-first-chunk-keeps-dictionary": (
        _lzma2, bytes([RAW[0] & 0x9F | 0x40]) + RAW[1:], "Corrupt"
    ),
}


@pytest.mark.parametrize("case", REJECTS)
def test_rejects(case: str) -> None:
    decode, blob, reason = REJECTS[case]
    fmt = case.split("-")[0]
    with pytest.raises(CodecError, match=f"^{fmt}: .*{reason}"):
        decode(blob)


def test_lzma2_end_offset_leaves_trailing_bytes_to_caller() -> None:
    framed = b"head" + RAW + b"tail"
    end = 4 + len(RAW)
    assert lzma2_decode_chunks(framed, 4, None) == (PLAIN, end)
    assert lzma2_decode_chunks(framed, 4, end) == (PLAIN, end)


# Every fixture encoder of functions/multimodal.py and the decoders that
# read its payloads.  Y4M's reader is the 1->N frame sampler.
SHELL_PAIRS = {
    "with_ppm_payload": ["decode_ppm", "image_stats"],
    "with_jpeg_payload": ["decode_jpeg_meta"],
    "with_jpeg_pixel_payload": ["jpeg_image_stats", "decode_image"],
    "with_wav_payload": ["decode_wav", "audio_stats"],
    "with_ogg_payload": ["decode_ogg_meta"],
    "with_mp3_payload": ["decode_mp3_meta"],
    "with_flac_payload": ["flac_pcm_stats", "decode_audio"],
    "with_y4m_payload": ["sample_y4m_frames"],
    "with_adpcm_payload": ["adpcm_pcm_stats"],
    "with_png_payload": ["png_image_stats"],
    "with_gif_payload": ["gif_image_stats"],
    "with_mjpeg_payload": ["mjpeg_frame_stats"],
    "with_g711_payload": ["g711_pcm_stats"],
    "with_apng_payload": ["apng_frame_stats"],
    "with_qoi_payload": ["qoi_pixel_stats"],
    "with_deflate_payload": ["deflate_stats"],
    "with_gzip_payload": ["gzip_stats"],
    "with_bzip2_payload": ["bzip2_stats"],
    "with_tiff_payload": ["tiff_stats"],
    "with_zstd_payload": ["zstd_stats"],
    "with_xz_payload": ["xz_stats"],
    "with_lzma2_payload": ["xz_stats"],
}


class _Capture:
    """Stands in for a DataFrame: ``mapInPandas`` hands back the worker
    function and its schema instead of planning a Spark job."""

    def mapInPandas(self, fn, schema):
        return fn, schema


def test_decode_closure_unpickles_without_the_repo() -> None:
    """The by-value rule: every multimodal worker closure must load and run
    in a process that cannot import flinkexp_spark, as on executors of a
    driver started outside the repo.  All encoder -> decoder pairs run in
    one such process on doc_ids 0-3, which hits every variant cycle; each
    decoder frame must carry exactly its schema's columns, all int64, and
    equal the frame the same closures give in this process."""
    import pandas as pd
    from pyspark import cloudpickle

    from flinkexp_spark.functions import multimodal as M

    def capture(name: str):
        return getattr(M, name)(_Capture())

    pairs = {
        enc: (capture(enc)[0], {dec: capture(dec)[0] for dec in decs})
        for enc, decs in SHELL_PAIRS.items()
    }
    schemas = {
        dec: capture(dec)[1] for decs in SHELL_PAIRS.values() for dec in decs
    }
    batch = pd.DataFrame(
        {
            "doc_id": pd.Series(range(4), dtype="int64"),
            "text": [f"doc {i}: " + "payload " * (3 * i + 1) for i in range(4)],
        }
    )
    script = (
        "import importlib.util, pickle, sys\n"
        "assert importlib.util.find_spec('flinkexp_spark') is None\n"
        "pairs, batch = pickle.loads(sys.stdin.buffer.read())\n"
        "out = {}\n"
        "for enc, (encode, decoders) in pairs.items():\n"
        "    (payloads,) = encode(iter([batch]))\n"
        "    for dec, decode in decoders.items():\n"
        "        (out[enc, dec],) = decode(iter([payloads]))\n"
        "sys.stdout.buffer.write(pickle.dumps(out))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        input=cloudpickle.dumps((pairs, batch)), capture_output=True,
        cwd=tempfile.gettempdir(), env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    frames = pickle.loads(proc.stdout)
    assert sorted(frames) == sorted(
        (enc, dec) for enc, decs in SHELL_PAIRS.items() for dec in decs
    )
    for (enc, dec), frame in frames.items():
        names = [c.split()[0] for c in schemas[dec].split(",")]
        assert list(frame.columns) == names, (enc, dec)
        assert (frame.dtypes == "int64").all(), (enc, dec, frame.dtypes)
        encode, decoders = pairs[enc]
        (payloads,) = encode(iter([batch]))
        (local,) = decoders[dec](iter([payloads]))
        pd.testing.assert_frame_equal(frame, local)
