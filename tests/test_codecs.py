"""The strict stdlib codec wrappers (functions/inflate.py, bzip2.py,
lzma2.py, xz.py over functions/drain.py), table-driven.

Round-trips cover every container layout the multimodal_decode_* fixtures
generate; the rejection table covers truncation, trailing garbage, a
corrupt checksum and bad padding for each format.  The padded multi-stream
xz case and every trailing-garbage case fail against the lenient one-shot
``zlib``/``bz2``/``lzma.decompress``, which is what the wrappers exist to
prevent.  The last two tests run every multimodal encoder -> decoder pair
in process, and every codec query on a plain session whose driver runs
outside the repo, where workers import the package only from the archive
the registry ships.
"""

from __future__ import annotations

import bz2
import gzip
import io
import json
import lzma
import os
import random
import subprocess
import sys
import textwrap
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


def test_shell_pairs_give_int64_frames_of_their_schema() -> None:
    """Every encoder -> decoder pair on doc_ids 0-3, which hits every
    variant cycle: each decoder frame carries exactly its schema's
    columns, all int64, and the cloudpickled worker functions (what a
    task ships) give the same frame as the local ones."""
    import pandas as pd
    from pyspark import cloudpickle

    from flinkexp_spark.functions import multimodal as M

    def capture(name: str):
        return getattr(M, name)(_Capture())

    def shipped(fn):
        return cloudpickle.loads(cloudpickle.dumps(fn))

    batch = pd.DataFrame(
        {
            "doc_id": pd.Series(range(4), dtype="int64"),
            "text": [f"doc {i}: " + "payload " * (3 * i + 1) for i in range(4)],
        }
    )
    for enc, decs in SHELL_PAIRS.items():
        encode = capture(enc)[0]
        (payloads,) = encode(iter([batch]))
        (remote,) = shipped(encode)(iter([batch]))
        pd.testing.assert_frame_equal(remote, payloads)
        for dec in decs:
            decode, schema = capture(dec)
            (local,) = decode(iter([payloads]))
            names = [c.split()[0] for c in schema.split(",")]
            assert list(local.columns) == names, (enc, dec)
            assert (local.dtypes == "int64").all(), (enc, dec, local.dtypes)
            (remote,) = shipped(decode)(iter([payloads]))
            pd.testing.assert_frame_equal(remote, local)


OUTSIDE_REPO_SCRIPT = textwrap.dedent(
    """
    import json, os, sys

    repo, sf_dir = sys.argv[1:]
    sys.path.insert(0, repo)
    from pyspark.sql import SparkSession

    from flinkexp_spark.registry import queries
    from flinkexp_spark.testing.oracle import compare_query, duck_connection

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    names = [
        n for n in queries()
        if n.startswith(("multimodal_", "tokenizer_unigram_"))
    ]
    con = duck_connection(sf_dir)
    results = [compare_query(spark, con, n, sf_dir) for n in names]

    def where(batches):
        import flinkexp_spark
        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"file": [flinkexp_spark.__file__]})

    files = spark.range(2).mapInPandas(where, "file string").collect()
    print(json.dumps({
        "names": names,
        "failed": [[r.name, r.detail] for r in results if not r.ok],
        "files": sorted({r.file for r in files}),
        "includes": spark.sparkContext._python_includes,
    }))
    spark.stop()
    """
)


def test_codec_queries_match_oracles_from_outside_the_repo(
    tmp_path, sf_dir
) -> None:
    """The driver's setup: a plain ``local[2]`` session started from a
    directory without the package and with no ``PYTHONPATH``.  Every
    ``multimodal_*`` and ``tokenizer_unigram_*`` query must match its
    oracle at sf0.001, and workers must import ``flinkexp_spark`` from
    the archive ``registry`` shipped."""
    from flinkexp_spark.session import ARCHIVE_PREFIX

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_SCRATCH"] = str(tmp_path / "scratch")
    proc = subprocess.run(
        [sys.executable, "-c", OUTSIDE_REPO_SCRIPT, repo, sf_dir],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert len(out["names"]) >= 30, out["names"]
    assert out["failed"] == []
    (archive,) = [i for i in out["includes"] if i.startswith(ARCHIVE_PREFIX)]
    assert out["files"] and all(
        f.endswith(os.path.join(archive, "flinkexp_spark", "__init__.py"))
        for f in out["files"]
    ), out["files"]
