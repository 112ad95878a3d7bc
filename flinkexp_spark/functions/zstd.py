"""From-spec Zstandard frame walker (RFC 8878) — raw/RLE block scope.

Derived entirely from RFC 8878 (public, complete):

* frame header: magic 0xFD2FB528, Frame_Header_Descriptor bit fields
  (Frame_Content_Size / Single_Segment / Content_Checksum /
  Dictionary_ID flags, reserved-bit enforcement), Window_Descriptor
  exponent/mantissa arithmetic, the +256 bias of the 2-byte FCS field
* the block walk: 3-byte little-endian headers (Last_Block, Block_Type,
  Block_Size), Raw_Block and RLE_Block payloads
* Content_Checksum: low 32 bits of XXH64(content, seed=0) — xxHash64 is
  implemented below from its published algorithm description (the five
  prime constants are part of that public spec)
* skippable frames (magic 0x184D2A50-5F) and multi-frame concatenation

``Compressed_Block`` (FSE/Huffman sequence sections, RFC 8878 §3.1.1.3)
is OUT OF SCOPE and rejected with an explicit error — this module is a
container walker, not a full entropy decoder.  It is from-spec because
Python has no stdlib zstd module; DEFLATE, bzip2 and xz decode through
stdlib ``zlib``, ``bz2`` and ``lzma`` (functions/inflate.py, bzip2.py,
xz.py).  The stored-block ENCODER here
emits spec-valid frames that any conformant zstd decoder accepts —
tests/test_zstd.py round-trips them through the system's real ``zstd``
binary in both directions, which also transitively pins the xxHash64
implementation (the reference CLI verifies our checksums and we verify
its).
"""

from __future__ import annotations

import struct

_MAGIC = 0xFD2FB528
_SKIPPABLE_LO = 0x184D2A50
_SKIPPABLE_HI = 0x184D2A5F

_RAW, _RLE, _COMPRESSED, _RESERVED = 0, 1, 2, 3


class ZstdError(ValueError):
    """Malformed or out-of-scope zstd payload."""


# ---------------------------------------------------------------------------
# xxHash64 (seed 0 is all zstd needs, but the seed is kept general)
# ---------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        a1 = (seed + _P1 + _P2) & _M64
        a2 = (seed + _P2) & _M64
        a3 = seed & _M64
        a4 = (seed - _P1) & _M64
        while i + 32 <= n:
            l1, l2, l3, l4 = struct.unpack_from("<QQQQ", data, i)
            a1, a2 = _round(a1, l1), _round(a2, l2)
            a3, a4 = _round(a3, l3), _round(a4, l4)
            i += 32
        h = (_rotl(a1, 1) + _rotl(a2, 7) + _rotl(a3, 12) + _rotl(a4, 18)) & _M64
        for acc in (a1, a2, a3, a4):
            h = ((h ^ _round(0, acc)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (lane,) = struct.unpack_from("<Q", data, i)
        h = (_rotl(h ^ _round(0, lane), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        (lane32,) = struct.unpack_from("<I", data, i)
        h = (_rotl(h ^ ((lane32 * _P1) & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M64), 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


# ---------------------------------------------------------------------------
# Decoder (frame walker)
# ---------------------------------------------------------------------------

def _decode_frame(data: bytes, pos: int) -> tuple[bytes, int]:
    """One zstd frame starting at its header byte (magic consumed)."""
    if pos >= len(data):
        raise ZstdError("truncated frame header descriptor")
    fhd = data[pos]
    pos += 1
    fcs_flag = fhd >> 6
    single_segment = bool(fhd & 0x20)
    if fhd & 0x10:
        raise ZstdError("unused descriptor bit set")
    if fhd & 0x08:
        raise ZstdError("reserved descriptor bit set")
    checksum_flag = bool(fhd & 0x04)
    did_flag = fhd & 0x03
    if not single_segment:
        if pos >= len(data):
            raise ZstdError("truncated window descriptor")
        wd = data[pos]
        pos += 1
        exponent, mantissa = wd >> 3, wd & 0x07
        window_base = 1 << (10 + exponent)
        window_size = window_base + (window_base // 8) * mantissa
        if window_size > (1 << 41):  # spec ceiling (§3.1.1.1.2)
            raise ZstdError(f"window size {window_size} over spec maximum")
    did_size = {0: 0, 1: 1, 2: 2, 3: 4}[did_flag]
    if did_size:
        did = int.from_bytes(data[pos : pos + did_size], "little")
        raise ZstdError(f"dictionary {did} required (dictionaries unsupported)")
    fcs_size = {0: 1 if single_segment else 0, 1: 2, 2: 4, 3: 8}[fcs_flag]
    fcs: int | None = None
    if fcs_size:
        if pos + fcs_size > len(data):
            raise ZstdError("truncated frame content size")
        fcs = int.from_bytes(data[pos : pos + fcs_size], "little")
        if fcs_size == 2:
            fcs += 256  # the 2-byte field is biased (§3.1.1.1.4)
        pos += fcs_size
    out = bytearray()
    while True:
        if pos + 3 > len(data):
            raise ZstdError("truncated block header")
        hdr = int.from_bytes(data[pos : pos + 3], "little")
        pos += 3
        last = hdr & 1
        btype = (hdr >> 1) & 3
        bsize = hdr >> 3
        if btype == _RAW:
            if pos + bsize > len(data):
                raise ZstdError("truncated raw block")
            out += data[pos : pos + bsize]
            pos += bsize
        elif btype == _RLE:
            if pos >= len(data):
                raise ZstdError("truncated RLE block")
            out += bytes([data[pos]]) * bsize  # size = REGENERATED length
            pos += 1
        elif btype == _COMPRESSED:
            raise ZstdError(
                "Compressed_Block outside this walker's scope (raw/RLE "
                "frames only — see module doc)"
            )
        else:
            raise ZstdError("reserved block type")
        if last:
            break
    if fcs is not None and fcs != len(out):
        raise ZstdError(f"frame content size {fcs} != decoded {len(out)}")
    if checksum_flag:
        if pos + 4 > len(data):
            raise ZstdError("truncated content checksum")
        (want,) = struct.unpack_from("<I", data, pos)
        pos += 4
        got = xxh64(bytes(out)) & 0xFFFFFFFF
        if got != want:
            raise ZstdError(
                f"content checksum mismatch: {got:#010x} != {want:#010x}"
            )
    return bytes(out), pos


def zstd_decompress(data: bytes) -> bytes:
    """Walk a multi-frame zstd payload: data frames (raw/RLE blocks) are
    decoded and concatenated, skippable frames are skipped."""
    out = bytearray()
    pos = 0
    if len(data) < 4:
        raise ZstdError(f"payload too short: {len(data)} bytes")
    while pos < len(data):
        if pos + 4 > len(data):
            raise ZstdError("trailing bytes too short for a frame magic")
        (magic,) = struct.unpack_from("<I", data, pos)
        pos += 4
        if magic == _MAGIC:
            plain, pos = _decode_frame(data, pos)
            out += plain
        elif _SKIPPABLE_LO <= magic <= _SKIPPABLE_HI:
            if pos + 4 > len(data):
                raise ZstdError("truncated skippable frame size")
            (size,) = struct.unpack_from("<I", data, pos)
            pos += 4 + size
            if pos > len(data):
                raise ZstdError("skippable frame overruns the payload")
        else:
            raise ZstdError(f"bad frame magic {magic:#010x}")
    return bytes(out)


# ---------------------------------------------------------------------------
# Stored-frame encoder (fixture synthesis; spec-valid for any decoder)
# ---------------------------------------------------------------------------

_RLE_MIN = 16  # runs at least this long become RLE blocks
_RAW_MAX = 4096  # raw-block cap (forces multi-block frames in fixtures)
_BLOCK_MAX = 128 * 1024  # RFC 8878 Block_Maximum_Size ceiling


def zstd_compress_stored(
    data: bytes,
    checksum: bool = True,
    single_segment: bool = False,
    with_fcs: bool = True,
) -> bytes:
    """Emit one spec-valid frame using only Raw/RLE blocks: runs of
    ``_RLE_MIN``+ equal bytes become RLE blocks, everything else raw
    blocks of at most ``_RAW_MAX`` bytes.  Real zstd decoders accept the
    result byte-for-byte (pinned against the system binary in tests)."""
    # block plan
    blocks: list[tuple[int, bytes | int, int]] = []  # (type, payload, size)
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        j = i + 1
        while j < n and data[j] == b:
            j += 1
        if j - i >= _RLE_MIN:
            # split long runs: Block_Maximum_Size = min(Window_Size, 128 KB)
            # (RFC 8878 §3.1.1.2.4) — one oversized RLE block would both
            # violate the spec and overflow the 21-bit Block_Size field
            run = j - i
            while run > 0:
                chunk = min(run, _BLOCK_MAX)
                blocks.append((_RLE, b, chunk))
                run -= chunk
            i = j
        else:
            end = min(i + _RAW_MAX, n)
            # stop a raw block where a long run starts
            k = i + 1
            while k < end:
                if data[k : k + _RLE_MIN] == bytes([data[k]]) * _RLE_MIN:
                    break
                k += 1
            blocks.append((_RAW, data[i:k], k - i))
            i = k
    if not blocks:
        blocks.append((_RAW, b"", 0))
    out = bytearray(struct.pack("<I", _MAGIC))
    fcs_flag = 0
    fcs_bytes = b""
    if with_fcs:
        if n <= 255 and single_segment:
            fcs_flag, fcs_bytes = 0, bytes([n])
        elif 256 <= n <= 65535 + 256:
            fcs_flag, fcs_bytes = 1, struct.pack("<H", n - 256)
        else:
            fcs_flag, fcs_bytes = 2, struct.pack("<I", n)
    elif single_segment:
        fcs_flag, fcs_bytes = (
            (2, struct.pack("<I", n)) if n > 255 else (0, bytes([n]))
        )
    fhd = (fcs_flag << 6) | (0x20 if single_segment else 0) | (
        0x04 if checksum else 0
    )
    out.append(fhd)
    if not single_segment:
        # window exponent sized to the content (min window 1 KB)
        exp = 0
        while (1 << (10 + exp)) < min(max(n, 1), 1 << 30):
            exp += 1
        out.append(exp << 3)
    out += fcs_bytes
    for idx, (btype, payload, size) in enumerate(blocks):
        last = 1 if idx == len(blocks) - 1 else 0
        out += int(last | (btype << 1) | (size << 3)).to_bytes(3, "little")
        if btype == _RAW:
            out += payload  # type: ignore[arg-type]
        else:
            out.append(payload)  # type: ignore[arg-type]
    if checksum:
        out += struct.pack("<I", xxh64(data) & 0xFFFFFFFF)
    return bytes(out)


def zstd_skippable_frame(payload: bytes, nibble: int = 0) -> bytes:
    """A skippable frame (metadata carrier, §3.1.2)."""
    if not 0 <= nibble <= 0xF:
        raise ZstdError("skippable magic nibble out of range")
    return (
        struct.pack("<I", _SKIPPABLE_LO + nibble)
        + struct.pack("<I", len(payload))
        + payload
    )
