"""X5 multimodal columns: images/audio/video as opaque ``binary`` columns
with typed metadata, processed by Arrow-batched ``mapInPandas``
(SURVEY §2.3 X5).

No reference analog.  The codec families encode and decode for real: PPM,
JPEG, PNG, APNG, GIF, QOI and TIFF images; WAV, FLAC, IMA-ADPCM and G.711
audio plus the Ogg and MP3 container walks; Y4M and MJPEG video; and
zlib, gzip, bzip2, zstd and xz payloads.  The from-spec codecs live in the
sibling modules (``jpeg``, ``flac``, ``png``, ...).  Three seams stay
stubbed and raise inside the task: non-JPEG compressed images
(:func:`decode_image`), perceptual-audio DSP (:func:`decode_audio`) and
inter-predicted video (:func:`sample_frames`).

Two shells carry every codec family.  :func:`with_payload` runs an
encoder ``one(doc_id, text) -> bytes`` per row and returns
``doc_id long, payload binary``; :func:`int_stats` runs a decoder
``one(payload) -> tuple[int, ...]`` per row and returns ``doc_id`` plus
one ``long`` column per name.

Scale notes: binary payloads ride in parquet as byte arrays; mapInPandas
streams Arrow batches (``spark.sql.execution.arrow.maxRecordsPerBatch``)
so executor memory is bounded by batch size x payload size, not partition
size.  Feature extraction is embarrassingly parallel — no shuffle.
"""

from __future__ import annotations

import bz2 as _bz2
import gzip as _gz
import hashlib
import io
import lzma
import struct
import wave as wave_mod
import zlib
from collections.abc import Callable, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


FAKE_FEATURE_DIM = 4

MODALITY_MIME = {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}


def with_payload(df: DataFrame, one: Callable[[int, str], bytes]) -> DataFrame:
    """Encode shell: ``one(doc_id, text)`` builds each row's payload ->
    ``doc_id long, payload binary``."""

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        one(int(d), str(t))
                        for d, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    return df.mapInPandas(encode, schema="doc_id long, payload binary")


def int_stats(
    df: DataFrame, cols: Sequence[str], one: Callable[[bytes], tuple]
) -> DataFrame:
    """Decode shell: ``one(payload)`` returns ``len(cols)`` ints per row ->
    ``doc_id long`` plus one ``long`` column per name in ``cols``."""

    def stats(batches):
        import pandas as pd

        for pdf in batches:
            rows = [one(p) for p in pdf["payload"]]
            out = {"doc_id": pdf["doc_id"]}
            for j, c in enumerate(cols):
                out[c] = pd.Series([r[j] for r in rows], dtype="int64")
            yield pd.DataFrame(out)

    schema = ", ".join(f"{c} long" for c in ("doc_id", *cols))
    return df.mapInPandas(stats, schema=schema)


def value_stats(values: np.ndarray) -> tuple[int, int, int, int]:
    """``(sum, min, max, pos_checksum)`` of an integer array in row-major
    order.  ``pos_checksum`` weights each value by its 1-based position,
    so it pins the decode ORDER, not just the value multiset."""
    v = values.astype(np.int64).reshape(-1)
    pos = np.arange(1, v.size + 1, dtype=np.int64)
    return int(v.sum()), int(v.min()), int(v.max()), int((pos * v).sum())


def with_binary_payload(df: DataFrame) -> DataFrame:
    """Attach an opaque binary payload + typed metadata struct.

    (In production the payload IS the media file; here it is the utf-8
    bytes of ``text`` so fixtures stay self-contained.)
    """
    payload = F.encode(F.col("text"), "UTF-8")
    return df.withColumn("payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.octet_length(payload).alias("n_bytes"),
        ),
    )


def extract_binary_metadata(df: DataFrame) -> DataFrame:
    """mapInPandas pass over binary payloads -> (id, n_bytes, first_byte).

    The real plumbing for any decode stage: Arrow-batched iterator of
    pandas DataFrames, binary dtype in, typed rows out.
    """

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    # empty payloads carry no first byte (pandas nullable
                    # Int64 -> spark NULL), instead of an IndexError that
                    # would fail the whole stage
                    "first_byte": pdf["payload"]
                    .map(lambda b: b[0] if len(b) else None)
                    .astype("Int64"),
                }
            )

    return df.mapInPandas(scan, schema="doc_id long, n_bytes long, first_byte long")


def fake_feature_extract(df: DataFrame) -> DataFrame:
    """Deterministic stand-in for a neural feature extractor.

    feature_j = (md5-hash of (hex(md5(payload)), j) mod 1000) / 1000 — the
    same md5-int contract as functions/text.py, so the DuckDB oracle
    reproduces every value exactly.  Swap this body for a real model runner
    (ONNX/torch) in production; the Spark plumbing is identical.
    """

    def extract(batches):
        import hashlib

        import pandas as pd

        P = 2_147_483_647

        def feats(payload: bytes) -> list[float]:
            hx = hashlib.md5(payload).hexdigest()
            out = []
            for j in range(FAKE_FEATURE_DIM):
                h = int(hashlib.md5(f"{hx}-{j}".encode()).hexdigest()[:15], 16) % P
                out.append((h % 1000) / 1000.0)
            return out

        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "features": pdf["payload"].map(feats)}
            )

    return df.mapInPandas(extract, schema="doc_id long, features array<double>")


FRAME_BYTES = 64  # fake "frame" stride for chunk_payload


def chunk_payload(df: DataFrame, every: int = FRAME_BYTES) -> DataFrame:
    """1 -> N frame-sampling plumbing: emit one row per ``every``-byte chunk
    of the payload (the video frame-sample shape, with byte windows standing
    in for decoded frames).

    Real pattern: a codec (pyav/ffmpeg) yields frames inside the same
    mapInPandas generator; here the chunking is deterministic so the DuckDB
    oracle reproduces row counts AND per-chunk contents exactly.
    """

    def chunks(batches):
        import pandas as pd

        for pdf in batches:
            ids, idxs, sizes, firsts = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for i in range(0, len(payload), every):
                    chunk = payload[i : i + every]
                    ids.append(doc_id)
                    idxs.append(i // every)
                    sizes.append(len(chunk))
                    firsts.append(chunk[0])
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "frame_bytes": pd.Series(sizes, dtype="int64"),
                    "first_byte": pd.Series(firsts, dtype="int64"),
                }
            )

    return df.mapInPandas(
        chunks,
        schema="doc_id long, frame_idx long, frame_bytes long, first_byte long",
    )


# --- real codec: PPM (P6) ---------------------------------------------------
# One modality seam is exercised END-TO-END with an actual decoder: PPM is
# a real image format (netpbm) simple enough to encode/decode in pure
# Python, so the full pipeline — binary payload in parquet -> Arrow batch ->
# parse header -> walk pixel buffer -> typed rows out — runs for real.  The
# PIL/opencv/ffmpeg seams below stay stubbed (no codec libs here); swapping
# them in changes only the closure body, exactly like decode_ppm.

PPM_MAX_DIM = 16  # fixture images are (strlen%16+1) x (doc_id%16+1)


def with_ppm_payload(df: DataFrame) -> DataFrame:
    """Attach a REAL image payload: a P6 PPM whose dimensions derive from the
    row and whose RGB bytes cycle from md5(text)'s first byte — deterministic,
    so the decoded metadata is oracle-checkable."""

    def one(doc_id: int, text: str) -> bytes:
        w = len(text.encode("utf-8")) % PPM_MAX_DIM + 1
        h = doc_id % PPM_MAX_DIM + 1
        start = hashlib.md5(text.encode("utf-8")).digest()[0]
        body = bytes((start + i) % 256 for i in range(w * h * 3))
        return f"P6\n{w} {h}\n255\n".encode() + body

    return with_payload(df, one)


def decode_ppm(df: DataFrame) -> DataFrame:
    """REAL image decode over binary payloads: parse the P6 header (magic,
    dimensions, maxval), then walk the pixel buffer -> (width, height,
    n_px_bytes, px_sum).  The mapInPandas shape is identical to what a
    PIL/opencv decoder would use."""

    def one(payload: bytes):
        # P6 header: b"P6\n<w> <h>\n<maxval>\n" then w*h*3 raw bytes
        if payload[:2] != b"P6":
            raise ValueError("not a P6 PPM")
        parts = payload.split(b"\n", 3)
        w, h = (int(x) for x in parts[1].split())
        maxval = int(parts[2])
        if maxval != 255:
            raise ValueError(f"unsupported maxval {maxval}")
        px = parts[3]
        if len(px) != w * h * 3:
            raise ValueError("truncated pixel buffer")
        return w, h, len(px), sum(px)

    return int_stats(df, ["width", "height", "n_px_bytes", "px_sum"], one)


def image_stats(df: DataFrame) -> DataFrame:
    """Pixel FEATURE EXTRACTION over the real PPM decode: per-channel sums,
    pixel min/max, and the Rec.601 luma sum in exact per-mille integers —
    the brightness/contrast screens an image training pipeline runs after
    decode.  Same mapInPandas seam as :func:`decode_ppm`; a PIL/opencv
    feature extractor drops into the same shape."""

    def one(payload: bytes):
        if payload[:2] != b"P6":
            raise ValueError("not a P6 PPM")
        parts = payload.split(b"\n", 3)
        w, h = (int(x) for x in parts[1].split())
        px = parts[3]
        if len(px) != w * h * 3:
            raise ValueError("truncated pixel buffer")
        r_sum = sum(px[0::3])
        g_sum = sum(px[1::3])
        b_sum = sum(px[2::3])
        return (
            w * h,
            r_sum,
            g_sum,
            b_sum,
            min(px),
            max(px),
            299 * r_sum + 587 * g_sum + 114 * b_sum,
        )

    cols = [
        "n_pixels", "r_sum", "g_sum", "b_sum", "px_min", "px_max",
        "luma_sum_x1000",
    ]
    return int_stats(df, cols, one)


# --- real codec: JPEG (baseline JFIF, metadata) -----------------------------
# Compressed-format seam exercised for REAL at the container level: the
# payload is a structurally valid baseline JPEG (SOI, APP0/JFIF, DQT, SOF0,
# DHT, SOS, EOI — true markers with big-endian segment lengths), and the
# decoder is a genuine segment walker that skips unknown segments by length
# and extracts SOF0 dimensions + DQT coefficients, i.e. exactly what
# identify/PIL's .size does without entropy-decoding the image.  Only the
# entropy-coded MCU payload is absent (that step needs a Huffman decoder —
# the one remaining stub, decode_image below).

JPEG_MAX_DIM = 16  # fixture images are (strlen%16+1) x (doc_id%16+1)


def with_jpeg_payload(df: DataFrame) -> DataFrame:
    """Attach a REAL baseline-JPEG payload: marker-correct JFIF stream whose
    SOF0 dimensions derive from the row and whose DQT coefficients cycle
    from md5(text)'s first byte — deterministic, so the parsed metadata is
    oracle-checkable."""

    def one(doc_id: int, text: str) -> bytes:
        w = len(text.encode("utf-8")) % JPEG_MAX_DIM + 1
        h = doc_id % JPEG_MAX_DIM + 1
        s = hashlib.md5(text.encode("utf-8")).digest()[0]
        out = bytearray(b"\xff\xd8")  # SOI
        # APP0 / JFIF: version 1.1, no density, no thumbnail
        out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
        out += struct.pack(">HHBB", 1, 1, 0, 0)
        # DQT: one 8-bit table (pq=0, tq=0), 64 coefficients in 1..255
        q = bytes((s + i * 7) % 255 + 1 for i in range(64))
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + q
        # SOF0: precision 8, h x w, 3 components (4:2:0 luma sampling)
        out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3)
        out += bytes((1, 0x22, 0)) + bytes((2, 0x11, 0)) + bytes((3, 0x11, 0))
        # DHT: one table slot with zero codes (no entropy data follows)
        out += b"\xff\xc4" + struct.pack(">H", 19) + b"\x00" + b"\x00" * 16
        # SOS: 3 components, spectral selection 0..63
        out += b"\xff\xda" + struct.pack(">HB", 12, 3)
        out += bytes((1, 0x00, 2, 0x11, 3, 0x11)) + bytes((0, 63, 0))
        out += b"\xff\xd9"  # EOI
        return bytes(out)

    return with_payload(df, one)


def decode_jpeg_meta(df: DataFrame) -> DataFrame:
    """REAL baseline-JPEG metadata parse: walk the marker segments (skipping
    unknown ones by their big-endian length — the property that makes this
    work on ANY baseline JFIF, not just the fixture's), pull dimensions /
    precision / component count from SOF0 and the coefficient sum from DQT,
    stop at SOS.  No entropy decode (that is decode_image's stub)."""

    def one(payload: bytes):
        if payload[:2] != b"\xff\xd8":
            raise ValueError("not a JPEG (missing SOI)")
        pos = 2
        width = height = n_comp = precision = None
        dqt_sum = 0
        while pos + 2 <= len(payload):
            if payload[pos] != 0xFF:
                raise ValueError(f"bad marker alignment at {pos}")
            # legal JFIF allows 0xFF fill bytes before any marker
            while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
                pos += 1
            if pos + 1 >= len(payload):  # stream ends inside a fill run
                break
            marker = payload[pos + 1]
            if marker == 0xD9:  # EOI
                break
            # standalone (length-less) markers: TEM + RSTn
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            if pos + 4 > len(payload):
                break
            (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
            body = payload[pos + 4 : pos + 2 + seg_len]
            if marker == 0xDB:  # DQT: 1+ tables per segment
                i = 0
                while i < len(body):
                    pq = body[i] >> 4  # 0 = 8-bit, 1 = 16-bit entries
                    n = 64 * (2 if pq else 1)
                    tbl = body[i + 1 : i + 1 + n]
                    if pq:
                        dqt_sum += sum(
                            struct.unpack(f">{64}H", tbl)
                        )
                    else:
                        dqt_sum += sum(tbl)
                    i += 1 + n
            elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1/2
                precision, height, width, n_comp = struct.unpack_from(
                    ">BHHB", body, 0
                )
            elif marker == 0xDA:  # SOS: entropy data follows, stop
                break
            pos += 2 + seg_len
        if width is None:
            raise ValueError("no SOF marker before SOS")
        return width, height, n_comp, precision, dqt_sum

    cols = ["width", "height", "n_components", "precision", "dqt_sum"]
    return int_stats(df, cols, one)


# --- real codec: JPEG entropy decode (baseline JFIF) ------------------------
# The ENTROPY layer — canonical-Huffman scan decode, dequantize, inverse
# zigzag, IDCT, YCbCr->RGB — lives in functions/jpeg.py (pure Python +
# numpy, spec-driven from the stream's own DQT/DHT).  This closes the old
# decode_image stub for baseline JFIF.  Fixture images are block-constant
# with DC quant 8, which makes the decoded pixels EXACT integers (IDCT of
# a DC-only block is coefficient/8 at every sample), so the DuckDB oracle
# recomputes the whole huffman->dequant->IDCT->color-convert path
# arithmetically.

JPEG_PX_MAX_DIM = 16   # fixture images are (strlen%16+1) x (doc_id%16+1)
JPEG_PX_BLOCK_STEP = 17  # block b is constant (s + 17*b) % 160 + 48
JPEG_PX_DC_QUANT = 8   # DC quant 8 => dequant*IDCT lands on exact integers


def with_jpeg_pixel_payload(df: DataFrame) -> DataFrame:
    """Attach a real JPEG payload — MIXED chroma sampling AND coding
    class across the corpus (r08 VERDICT #4 + progressive).

    ``doc_id % 4`` picks the stream class: 0 -> baseline 4:4:4 gray RGB
    (the original r07 fixture, unchanged bytes), 1 -> baseline 4:2:0
    (2x2 luma), 2 -> baseline 4:2:2 (2x1 luma), 3 -> PROGRESSIVE (SOF2)
    4:2:0 with DC+AC successive approximation and split spectral bands.
    Subsampled rows are synthesized in YCbCr: Y is the same
    8x8-block-constant ramp, Cb/Cr are constant per chroma MACROBLOCK
    (16x16 for 4:2:0, 16x8 for 4:2:2) in a narrow range so no RGB
    channel clips — box-average downsampling and replication upsampling
    of a constant are identities, and progressive is a lossless
    reordering of the same coefficients, so the decoded planes are EXACT
    integers in every mode and the oracle recomputes every pixel
    arithmetically (R = round-half-even(y + 1.402*(cr-128)))."""
    from flinkexp_spark.functions.jpeg import (
        encode_baseline_jpeg,
        encode_progressive_jpeg,
    )

    max_dim, step, dcq = JPEG_PX_MAX_DIM, JPEG_PX_BLOCK_STEP, JPEG_PX_DC_QUANT

    def one(doc_id: int, text: str) -> bytes:
        w = len(text.encode("utf-8")) % max_dim + 1
        h = doc_id % max_dim + 1
        digest = hashlib.md5(text.encode("utf-8")).digest()
        s, s2, s3 = digest[0], digest[1], digest[2]
        bw = (w + 7) // 8
        ys, xs = np.mgrid[0:h, 0:w]
        block = (ys // 8) * bw + xs // 8
        gray = ((s + step * block) % 160 + 48).astype(np.uint8)
        q = np.full(64, 16, dtype=np.int64)
        q[0] = dcq
        mode = doc_id % 4
        if mode == 0:  # 4:4:4, gray RGB — byte-identical to the r07 fixture
            rgb = np.stack([gray, gray, gray], axis=-1)
            return encode_baseline_jpeg(rgb, [q, q])
        mbw = (w + 15) // 16
        if mode == 2:  # 4:2:2 — chroma macroblocks 16 wide x 8 tall
            sampling = [(2, 1), (1, 1), (1, 1)]
            mb = (ys // 8) * mbw + xs // 16
        else:  # 4:2:0 (baseline mode 1 / progressive mode 3) — 16x16
            sampling = [(2, 2), (1, 1), (1, 1)]
            mb = (ys // 16) * mbw + xs // 16
        cb = ((s2 + 11 * mb) % 40 + 108).astype(np.float64)
        cr = ((s3 + 23 * mb) % 40 + 108).astype(np.float64)
        ycc = np.stack([gray.astype(np.float64), cb, cr], axis=-1)
        if mode == 3:  # progressive scan script, same coefficients
            return encode_progressive_jpeg(
                ycc, [q, q], sampling=sampling, color_space="ycbcr"
            )
        return encode_baseline_jpeg(
            ycc, [q, q], sampling=sampling, color_space="ycbcr"
        )

    return with_payload(df, one)


def jpeg_image_stats(df: DataFrame) -> DataFrame:
    """Pixel FEATURE EXTRACTION over the real baseline-JPEG entropy decode:
    dimensions, gray-channel sum/min/max, and a POSITIONAL checksum
    (sum over row-major pixel index g of (g+1)*pixel) that pins not just
    the value multiset but the decoded pixel ORDER.  One Arrow batch pass:
    huffman -> dequant -> IDCT -> color convert -> featurize per row."""
    from flinkexp_spark.functions.jpeg import decode_baseline_jpeg

    def one(payload: bytes):
        px = decode_baseline_jpeg(bytes(payload))
        gray = px[..., 0] if px.ndim == 3 else px
        h, w = gray.shape
        return (w, h, w * h, *value_stats(gray))

    cols = [
        "width", "height", "n_pixels", "px_sum", "px_min", "px_max",
        "pos_checksum",
    ]
    return int_stats(df, cols, one)


# --- real codec: WAV (RIFF PCM) ---------------------------------------------
# Second modality exercised END-TO-END: 16-bit mono PCM WAV, written and
# parsed with the stdlib ``wave`` module — a true container encode/decode
# (RIFF chunks, fmt block, frame buffer), not byte arithmetic.  Sample
# values are deterministic so the decoded waveform stats are
# oracle-checkable.

WAV_BASE_RATE = 8000
WAV_RATE_STEP = 4000  # sample_rate = 8000 + (doc_id % 3) * 4000
WAV_MAX_SAMPLES = 48  # n_samples = byte_len % 48 + 8


def with_wav_payload(df: DataFrame) -> DataFrame:
    """Attach a REAL audio payload: a 16-bit mono PCM WAV written by the
    stdlib ``wave`` encoder.  sample_rate and waveform derive from the row
    (md5-seeded), so decoded stats are exactly reproducible."""

    def one(doc_id: int, text: str) -> bytes:
        rate = WAV_BASE_RATE + (doc_id % 3) * WAV_RATE_STEP
        n = len(text.encode("utf-8")) % WAV_MAX_SAMPLES + 8
        s = hashlib.md5(text.encode("utf-8")).digest()[0]
        samples = [(s * 257 + i * 9973) % 65536 - 32768 for i in range(n)]
        buf = io.BytesIO()
        with wave_mod.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(struct.pack(f"<{n}h", *samples))
        return buf.getvalue()

    return with_payload(df, one)


def decode_wav(df: DataFrame) -> DataFrame:
    """REAL audio decode: parse the RIFF/WAVE container with the stdlib
    ``wave`` reader (fmt chunk -> rate/channels/width, data chunk -> PCM
    frames), unpack the samples, emit waveform stats.  Identical mapInPandas
    shape to a soundfile/librosa decoder."""

    def one(payload: bytes):
        with wave_mod.open(io.BytesIO(payload), "rb") as w:
            rate = w.getframerate()
            ch = w.getnchannels()
            width = w.getsampwidth()
            n = w.getnframes()
            frames = w.readframes(n)
        if ch != 1 or width != 2:
            raise ValueError(f"unsupported WAV layout ch={ch} width={width}")
        samples = struct.unpack(f"<{n}h", frames)
        return rate, ch, n, sum(samples), n * 1000 // rate

    cols = ["sample_rate", "n_channels", "n_samples", "amp_sum", "duration_ms"]
    return int_stats(df, cols, one)


def audio_stats(df: DataFrame) -> DataFrame:
    """Waveform FEATURE EXTRACTION over the real WAV decode: peak
    amplitude, energy (sum of squares), and zero-crossing count — the
    integer-exact core of the silence/voice-activity screens an audio
    training pipeline runs after decode.  Same mapInPandas seam as
    :func:`decode_wav`; a librosa feature extractor drops into the same
    shape."""

    def one(payload: bytes):
        with wave_mod.open(io.BytesIO(payload), "rb") as w:
            rate = w.getframerate()
            ch = w.getnchannels()
            width = w.getsampwidth()
            n = w.getnframes()
            frames = w.readframes(n)
        if ch != 1 or width != 2:
            raise ValueError(f"unsupported WAV layout ch={ch} width={width}")
        s = struct.unpack(f"<{n}h", frames)
        peak = max(abs(x) for x in s)
        sq = sum(x * x for x in s)
        zc = sum(1 for i in range(1, n) if s[i - 1] * s[i] < 0)
        return rate, n, peak, sq, zc

    cols = ["sample_rate", "n_samples", "peak_abs", "sq_sum", "zero_crossings"]
    return int_stats(df, cols, one)


# --- real codec: Ogg (page transport, metadata) ------------------------------
# Container-level Ogg exercised for REAL: the payload is a spec-correct Ogg
# page sequence (OggS captures, little-endian granule/serial/sequence
# fields, BOS/EOS header-type flags, lacing tables) and the decoder is a
# genuine page walker — what `ogginfo` does before handing packets to a
# vorbis/opus decoder.  Only the packet DSP decode needs a codec lib.

OGG_MAX_PAGES = 4    # n_pages = doc_id % 4 + 1
OGG_MAX_BODY = 32    # page i body = (strlen + i) % 32 + 1 bytes


def with_ogg_payload(df: DataFrame) -> DataFrame:
    """Attach a REAL Ogg payload: page headers with correct capture
    pattern, flags, lacing, and a granule position accumulating the body
    size — deterministic, so the walked metadata is oracle-checkable.
    (CRCs are left zero: checksum validation is optional for readers and
    zero keeps the oracle arithmetic-only.)"""

    def one(doc_id: int, text: str) -> bytes:
        n_pages = doc_id % OGG_MAX_PAGES + 1
        blen = len(text.encode("utf-8"))
        serial = hashlib.md5(text.encode("utf-8")).digest()[0]
        out = bytearray()
        granule = 0
        for i in range(n_pages):
            body_len = (blen + i) % OGG_MAX_BODY + 1
            granule += body_len
            htype = (0x02 if i == 0 else 0) | (
                0x04 if i == n_pages - 1 else 0
            )
            body = bytes((serial + j) % 256 for j in range(body_len))
            out += b"OggS" + struct.pack(
                "<BBqIIIB",
                0,        # stream structure version
                htype,    # BOS/EOS/continued flags
                granule,  # granule position (cumulative body bytes)
                serial,   # bitstream serial number
                i,        # page sequence number
                0,        # CRC (unvalidated)
                1,        # one lacing segment (body_len < 255)
            )
            out += bytes([body_len]) + body
        return bytes(out)

    return with_payload(df, one)


def decode_ogg_meta(df: DataFrame) -> DataFrame:
    """REAL Ogg page walk: verify captures, read the little-endian header
    fields, sum the lacing table for each page body, check BOS/EOS flag
    placement and page-sequence continuity — ogginfo-level metadata with no
    packet decode."""

    def one(payload: bytes):
        pos = 0
        n_pages = 0
        body_bytes = 0
        body_sum = 0
        serial = None
        last_granule = 0
        while pos < len(payload):
            if payload[pos : pos + 4] != b"OggS":
                raise ValueError(f"bad Ogg capture at {pos}")
            version, htype, granule, ser, seq, _crc, nseg = struct.unpack_from(
                "<BBqIIIB", payload, pos + 4
            )
            if version != 0:
                raise ValueError(f"unsupported Ogg version {version}")
            if serial is None:
                serial = ser
                if not htype & 0x02:
                    raise ValueError("first page missing BOS flag")
            elif ser != serial:
                raise ValueError("multiplexed streams unsupported")
            if seq != n_pages:
                raise ValueError(f"page sequence gap at {seq}")
            lacing = payload[pos + 27 : pos + 27 + nseg]
            body_len = sum(lacing)
            body = payload[pos + 27 + nseg : pos + 27 + nseg + body_len]
            if len(body) != body_len:
                raise ValueError("truncated page body")
            n_pages += 1
            body_bytes += body_len
            body_sum += sum(body)
            last_granule = granule
            pos += 27 + nseg + body_len
        if n_pages == 0 or not htype & 0x04:
            raise ValueError("stream missing EOS page")
        return n_pages, body_bytes, body_sum, last_granule, serial

    cols = ["n_pages", "n_body_bytes", "body_sum", "last_granule", "serial"]
    return int_stats(df, cols, one)


# --- real codec: MP3 (MPEG-1 Layer III frame transport, metadata) ------------
# Frame-level MP3 exercised for REAL: the payload is a sequence of
# sync-correct MPEG-1 Layer III frame headers with true bitrate/samplerate
# table indices, and the decoder walks frames by COMPUTING each frame
# length from the header tables (144*bitrate/samplerate + padding) — the
# exact arithmetic mp3 duration scanners use.  Only the Huffman/MDCT audio
# decode needs a codec lib.

MP3_MAX_FRAMES = 5  # n_frames = doc_id % 5 + 1
# MPEG-1 Layer III table entries used by the fixture: index -> kbps
MP3_BITRATE_KBPS = {9: 128, 11: 192, 14: 320}
MP3_SAMPLE_RATE = 44100  # sample-rate index 0


def with_mp3_payload(df: DataFrame) -> DataFrame:
    """Attach a REAL MP3 payload: frame headers with valid sync, version,
    layer, bitrate index, and alternating padding bit; frame bodies sized
    exactly per the header arithmetic so a table-driven walker traverses
    them."""

    indices = sorted(MP3_BITRATE_KBPS)

    def one(doc_id: int, text: str) -> bytes:
        n_frames = doc_id % MP3_MAX_FRAMES + 1
        s = hashlib.md5(text.encode("utf-8")).digest()[0]
        br_idx = indices[doc_id % len(indices)]
        kbps = MP3_BITRATE_KBPS[br_idx]
        out = bytearray()
        for i in range(n_frames):
            padding = i % 2
            # header: 11-bit sync | version MPEG-1 (0b11) | layer III
            # (0b01) | no-CRC (1) ; bitrate idx | samplerate idx 00 |
            # padding | private 0 ; mode stereo + zeros
            b1 = 0xFF
            b2 = 0xFB  # 111 1011 = MPEG-1, Layer III, no CRC
            b3 = (br_idx << 4) | (0 << 2) | (padding << 1)
            b4 = 0x00
            frame_len = 144 * kbps * 1000 // MP3_SAMPLE_RATE + padding
            body = bytes(
                (s + i + j) % 256 for j in range(frame_len - 4)
            )
            out += bytes((b1, b2, b3, b4)) + body
        return bytes(out)

    return with_payload(df, one)


def decode_mp3_meta(df: DataFrame) -> DataFrame:
    """REAL MP3 frame walk: validate sync/version/layer per frame, look the
    bitrate up in the MPEG-1 Layer III table, compute each frame's length
    (144*bitrate/samplerate + padding) to reach the next header, and
    derive the duration from the frame count (1152 samples/frame) — what
    every constant-bitrate duration probe does."""

    # full MPEG-1 Layer III bitrate table (kbps), index 1..14
    table = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
    rates = [44100, 48000, 32000]

    def one(payload: bytes):
        pos = 0
        n_frames = 0
        kbps = None
        rate = None
        while pos + 4 <= len(payload):
            b1, b2, b3, _b4 = payload[pos : pos + 4]
            if b1 != 0xFF or (b2 & 0xE0) != 0xE0:
                raise ValueError(f"lost frame sync at {pos}")
            if (b2 & 0x18) != 0x18 or (b2 & 0x06) != 0x02:
                raise ValueError("not MPEG-1 Layer III")
            br_idx = b3 >> 4
            sr_idx = (b3 >> 2) & 0x03
            if br_idx in (0, 15) or sr_idx == 3:
                raise ValueError("free-format/invalid header")
            padding = (b3 >> 1) & 0x01
            f_kbps, f_rate = table[br_idx], rates[sr_idx]
            if kbps is None:
                kbps, rate = f_kbps, f_rate
            elif (f_kbps, f_rate) != (kbps, rate):
                raise ValueError("VBR streams unsupported by this probe")
            frame_len = 144 * f_kbps * 1000 // f_rate + padding
            if pos + frame_len > len(payload):
                raise ValueError("truncated frame")
            n_frames += 1
            pos += frame_len
        if n_frames == 0:
            raise ValueError("no MP3 frames")
        duration_ms = n_frames * 1152 * 1000 // rate
        return n_frames, kbps, rate, duration_ms, len(payload)

    cols = [
        "n_frames", "bitrate_kbps", "sample_rate", "duration_ms", "n_bytes",
    ]
    return int_stats(df, cols, one)


# --- stubbed codecs (no media libraries in this environment) ---------------

def decode_image(df: DataFrame) -> DataFrame:
    """Decode compressed image bytes -> pixel summary rows.

    Baseline JFIF decodes for REAL via functions/jpeg.py (canonical-Huffman
    scan decode + dequant + inverse zigzag + IDCT + YCbCr->RGB) — this was
    the repo's last image stub through round 6.  Non-JPEG compressed
    formats (PNG/webp) still require PIL/opencv and raise inside the task,
    keeping the honest environment boundary visible."""
    from flinkexp_spark.functions.jpeg import decode_baseline_jpeg

    def one(payload: bytes):
        payload = bytes(payload)
        if payload[:2] != b"\xff\xd8":
            raise NotImplementedError(
                "non-JPEG compressed image decode requires PIL/opencv; "
                "wire the codec into this closure like decode_baseline_jpeg"
            )
        px = decode_baseline_jpeg(payload)
        n_ch = 1 if px.ndim == 2 else px.shape[2]
        flat = px.reshape(-1).astype(np.int64)
        h, w = px.shape[:2]
        return w, h, n_ch, int(flat.sum()), int(flat.min()), int(flat.max())

    cols = ["width", "height", "n_channels", "px_sum", "px_min", "px_max"]
    return int_stats(df, cols, one)


FLAC_RATE_BASE = 8000
FLAC_RATE_STEP = 4000  # sample_rate = 8000 + (doc_id % 3) * 4000
FLAC_MAX_SAMPLES = 200  # per channel: n = byte_len % 200 + 80 (2-5 frames)
FLAC_MIN_SAMPLES = 80
FLAC_BLOCK = 64  # frame block size: short enough to cycle stereo modes


def with_flac_payload(df: DataFrame) -> DataFrame:
    """Attach a REAL compressed-audio payload: a FLAC stream written by the
    from-spec encoder in functions/flac.py (fixed/LPC prediction, Rice
    residuals, frame CRCs, STREAMINFO MD5).  The PCM derives from the row
    exactly like the WAV fixture — interleaved sample g is
    ``(md5_byte*257 + g*9973) % 65536 - 32768`` — so the decoded stats are
    arithmetically reproducible in the oracle; the encoder cycles stereo
    decorrelation modes and subframe types frame-over-frame so a 100-doc
    fixture exercises every decoder path."""
    from flinkexp_spark.functions.flac import encode_flac

    def one(doc_id: int, text: str) -> bytes:
        raw = text.encode("utf-8")
        n = len(raw) % FLAC_MAX_SAMPLES + FLAC_MIN_SAMPLES
        ch = doc_id % 2 + 1
        rate = FLAC_RATE_BASE + (doc_id % 3) * FLAC_RATE_STEP
        s = hashlib.md5(raw).digest()[0]
        g = np.arange(n * ch, dtype=np.int64)
        v = (s * 257 + g * 9973) % 65536 - 32768
        return encode_flac(
            v.reshape(n, ch), sample_rate=rate, block_size=FLAC_BLOCK
        )

    return with_payload(df, one)


def flac_pcm_stats(df: DataFrame) -> DataFrame:
    """REAL compressed-audio decode: FLAC -> PCM inside one Arrow
    mapInPandas pass (frame sync, CRC-8/CRC-16 verification, subframe
    prediction inversion, stereo decorrelation, STREAMINFO MD5 check),
    then exact-integer waveform stats.  ``pos_checksum`` is position-
    weighted over the INTERLEAVED samples, so channel order and sample
    order are both pinned, not just the value multiset.  Per-row
    independent work: no shuffle, linear in the corpus."""
    from flinkexp_spark.functions.flac import decode_flac

    def one(payload: bytes):
        pcm, rate = decode_flac(bytes(payload))
        # row-major (sample, channel): the interleaved samples
        return (rate, pcm.shape[1], pcm.shape[0], *value_stats(pcm))

    cols = [
        "sample_rate", "n_channels", "n_samples", "sample_sum", "sample_min",
        "sample_max", "pos_checksum",
    ]
    return int_stats(df, cols, one)


def decode_audio(df: DataFrame) -> DataFrame:
    """Decode compressed audio bytes -> PCM waveform stats.

    FLAC payloads decode FOR REAL (functions/flac.py — from-spec pure
    python: prediction inversion, Rice residuals, CRC + MD5 verification);
    uncompressed PCM WAV decodes via :func:`decode_wav`; the container and
    frame layers of Ogg and MP3 parse via :func:`decode_ogg_meta` /
    :func:`decode_mp3_meta`.  The remaining honest boundary is the
    PERCEPTUAL codecs' DSP (MP3 Layer III, Vorbis/Opus): their specs make
    large literal constant tables normative (Layer III's Table B.3
    synthesis window + 34 Huffman tables; Vorbis' floor inverse-dB
    table), which cannot be derived offline — a decoder with invented
    tables would mis-decode every real-world file while still round-
    tripping our own, so those stay behind this error until
    soundfile/librosa (or the spec tables) are available; wire them into
    the same mapInPandas closure as the FLAC path."""
    from flinkexp_spark.functions.flac import FLAC_MAGIC, decode_flac

    def one(payload: bytes):
        payload = bytes(payload)
        if payload[:4] != FLAC_MAGIC:
            raise NotImplementedError(
                "perceptual-codec DSP (MP3 Layer III / Vorbis / Opus) "
                "requires soundfile/librosa or the specs' normative "
                "constant tables; FLAC decodes for real — wire other "
                "codecs into this closure like decode_flac"
            )
        pcm, rate = decode_flac(payload)
        inter = pcm.reshape(-1).astype(np.int64)
        return rate, pcm.shape[1], pcm.shape[0], int(inter.sum())

    cols = ["sample_rate", "n_channels", "n_samples", "sample_sum"]
    return int_stats(df, cols, one)


def sample_frames(df: DataFrame, every_n: int = 30) -> DataFrame:
    """STUB: sample every-Nth frame from INTER-PREDICTED video (mp4/h264).

    Two video paths decode for real: uncompressed Y4M
    (:func:`sample_y4m_frames`) and compressed Motion-JPEG AVI
    (:func:`mjpeg_frame_stats` — RIFF demux in functions/avi.py + the
    from-spec JPEG entropy decoder per frame).  The remaining boundary
    is inter-frame prediction (h264/h265/VP9): their normative tables
    (CABAC contexts, default scan matrices) are spec DATA, not derivable
    offline — same argument as MP3/Vorbis vs FLAC (functions/flac.py:9).
    Wire ffmpeg/pyav into the same 1->N mapInPandas closure if the
    sandbox ever gains them."""
    raise NotImplementedError(
        "inter-predicted video (h264/h265/VP9) requires ffmpeg/pyav or the "
        "specs' normative tables; MJPEG AVIs decode for real via "
        "mjpeg_frame_stats(), Y4M via sample_y4m_frames()"
    )


# --- real codec: Y4M (YUV4MPEG2) --------------------------------------------
# Third modality exercised END-TO-END: YUV4MPEG2 is the uncompressed video
# interchange format ffmpeg/mjpegtools speak — a text header
# (``YUV4MPEG2 W.. H.. F25:1 .. C444\n``) followed by ``FRAME\n`` +
# raw-plane bytes per frame.  Simple enough to encode/decode in pure
# Python, so the video path — multi-frame container in parquet -> Arrow
# batch -> header parse -> frame walk -> every-Nth sample -> one row per
# sampled frame (the 1->N UDTF shape) — runs for real.  The compressed
# (mp4/h264) seam above stays stubbed.

Y4M_MAX_DIM = 8     # w = byte_len%8+2, h = doc_id%8+2
Y4M_MAX_FRAMES = 6  # n_frames = doc_id%6+2
Y4M_FRAME_STEP = 7  # frame f is filled with (md5_byte0 + 7*f) % 256


def with_y4m_payload(df: DataFrame) -> DataFrame:
    """Attach a REAL video payload: a YUV4MPEG2 (C444) stream whose
    dimensions/frame-count derive from the row and whose plane bytes are
    constant per frame (md5-seeded), so sampled-frame stats are exactly
    reproducible."""

    def one(doc_id: int, text: str) -> bytes:
        w = len(text.encode("utf-8")) % Y4M_MAX_DIM + 2
        h = doc_id % Y4M_MAX_DIM + 2
        nf = doc_id % Y4M_MAX_FRAMES + 2
        start = hashlib.md5(text.encode("utf-8")).digest()[0]
        out = [f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\n".encode()]
        for f in range(nf):
            out.append(b"FRAME\n")
            out.append(bytes([(start + Y4M_FRAME_STEP * f) % 256]) * (w * h * 3))
        return b"".join(out)

    return with_payload(df, one)


def sample_y4m_frames(df: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL video frame sampling: parse the YUV4MPEG2 header (W/H/C tags),
    walk the FRAME-delimited plane buffers, and emit one row per every-Nth
    frame — the 1->N demux shape an ffmpeg/pyav reader drops into.

    Scale note: payloads stream through Arrow batches; per-task memory is
    bounded by ``maxRecordsPerBatch x payload size`` regardless of
    partition size, and the 1->N expansion happens inside the executor
    (no shuffle is induced by the sampling itself)."""

    def demux(batches):
        import pandas as pd

        def frames(doc_id: int, payload: bytes):
            nl = payload.index(b"\n")
            header = payload[:nl].split(b" ")
            if header[0] != b"YUV4MPEG2":
                raise ValueError("not a YUV4MPEG2 stream")
            w = h = None
            colorspace = b"C420"  # y4m default when the C tag is absent
            for tag in header[1:]:
                if tag[:1] == b"W":
                    w = int(tag[1:])
                elif tag[:1] == b"H":
                    h = int(tag[1:])
                elif tag[:1] == b"C":
                    colorspace = tag
            if w is None or h is None:
                raise ValueError("missing W/H header tags")
            if colorspace != b"C444":
                raise ValueError(f"unsupported colorspace {colorspace!r}")
            fbytes = w * h * 3
            pos, idx = nl + 1, 0
            while pos < len(payload):
                marker_end = payload.index(b"\n", pos)
                if payload[pos : pos + 5] != b"FRAME":
                    raise ValueError("missing FRAME marker")
                body = payload[marker_end + 1 : marker_end + 1 + fbytes]
                if len(body) != fbytes:
                    raise ValueError("truncated frame")
                if idx % every_n == 0:
                    yield doc_id, idx, w, h, fbytes, sum(body)
                pos = marker_end + 1 + fbytes
                idx += 1

        for pdf in batches:
            rows = [
                r
                for d, p in zip(pdf["doc_id"], pdf["payload"])
                for r in frames(int(d), p)
            ]
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "frame_idx", "width", "height",
                    "frame_bytes", "byte_sum",
                ],
            ).astype("int64")

    return df.mapInPandas(
        demux,
        schema=(
            "doc_id long, frame_idx long, width long, height long, "
            "frame_bytes long, byte_sum long"
        ),
    )

# --- real codec: IMA-ADPCM (WAV format 0x0011) ------------------------------
# Lossy compressed audio with fully-derivable normative data (89-entry
# ~1.1x step staircase + 8-entry index table — see functions/adpcm.py
# module doc for why this clears the bar MP3/Vorbis cannot).  The fixture
# synthesizes the BITSTREAM arithmetically (per-block state headers +
# nibbles from a closed-form ramp), so the DuckDB oracle can replay the
# entire integer decode state machine as a recursive CTE — an
# independent-engine check of the decoder, not of the synthesis.

ADPCM_BLOCK_ALIGN = 36  # 4-byte header + 32 nibble bytes = 65 samples/block
ADPCM_RATE_BASE = 8000
ADPCM_RATE_STEP = 4000  # sample_rate = 8000 + (doc_id % 3) * 4000


def with_adpcm_payload(df: DataFrame) -> DataFrame:
    """Attach a mono WAV-IMA-ADPCM payload with arithmetically-derived
    content: block b starts at predictor (s*131 + b*77) % 1024 - 512 with
    step index (s2 + 5*b) % 30, followed by 64 nibbles
    (s + 13*b + 7*g) % 16 — closed forms the SQL oracle mirrors before
    replaying the decode recurrence.  doc_id picks 1-3 blocks and the
    sample rate, exactly like the WAV/FLAC fixtures."""
    from flinkexp_spark.functions.adpcm import build_ima_wav

    ba, rb, rs = ADPCM_BLOCK_ALIGN, ADPCM_RATE_BASE, ADPCM_RATE_STEP

    def one(doc_id: int, text: str) -> bytes:
        d = hashlib.md5(text.encode("utf-8")).digest()
        s, s2 = d[0], d[1]
        nb = doc_id % 3 + 1
        headers = [
            ((s * 131 + b * 77) % 1024 - 512, (s2 + 5 * b) % 30)
            for b in range(nb)
        ]
        nibs = [
            [(s + 13 * b + 7 * g) % 16 for g in range((ba - 4) * 2)]
            for b in range(nb)
        ]
        return build_ima_wav(headers, nibs, rb + (doc_id % 3) * rs, ba)

    return with_payload(df, one)


def adpcm_pcm_stats(df: DataFrame) -> DataFrame:
    """REAL compressed-audio decode: WAV-IMA-ADPCM -> PCM inside one
    Arrow mapInPandas pass (RIFF chunk walk, fmt/fact validation,
    per-block state headers, nibble unpack low-first, integer shift/add
    state machine), then exact-integer waveform stats.  ``pos_checksum``
    pins sample ORDER across block boundaries — a block processed out of
    order or a nibble order flip hash-fails.  Per-row independent work:
    no shuffle, linear in the corpus."""
    from flinkexp_spark.functions.adpcm import decode_ima_wav

    def one(payload: bytes):
        pcm, rate = decode_ima_wav(bytes(payload))
        return (rate, 1, len(pcm), *value_stats(pcm))

    cols = [
        "sample_rate", "n_channels", "n_samples", "sample_sum", "sample_min",
        "sample_max", "pos_checksum",
    ]
    return int_stats(df, cols, one)


# ---------------------------------------------------------------------------
# PNG fixtures (functions/png.py — from-spec lossless image codec)
# ---------------------------------------------------------------------------

PNG_DIM_MOD = 24  # width  = strlen % 24 + 9  (9..32)
PNG_DIM_MIN = 9  # height = (strlen*3 + doc_id) % 24 + 9
PNG_PAL_SIZE = 16  # palette variant: 16 entries


def with_png_payload(df: DataFrame) -> DataFrame:
    """Attach a REAL PNG payload written by the from-spec encoder in
    functions/png.py.  Pixels derive arithmetically from the row so the
    decoded stats are reproducible in the SQL oracle; ``doc_id % 4``
    cycles the decoder's four structural paths:

    * 0 — greyscale (color type 0), null interlace
    * 1 — truecolor RGB (color type 2), null interlace
    * 2 — 16-entry palette (color type 3): index (s + 7x + 13y) % 16,
      palette entry (i, c) = (s*3 + 37i + 11c) % 256
    * 3 — RGBA (color type 6) with ADAM7 interlace — the position-
      weighted checksum downstream pins the deinterlace reorder exactly

    Non-palette sample (x, y, c) = (s + 31x + 17y + 97c) % 256.  The
    filter seed rotates per row so all five scanline filters appear, and
    every 5th doc splits its IDAT stream across multiple chunks."""
    from flinkexp_spark.functions.png import encode_png

    dmod, dmin, psize = PNG_DIM_MOD, PNG_DIM_MIN, PNG_PAL_SIZE

    def one(doc_id: int, text: str) -> bytes:
        raw = text.encode("utf-8")
        s = hashlib.md5(raw).digest()[0]
        w = len(raw) % dmod + dmin
        h = (len(raw) * 3 + doc_id) % dmod + dmin
        var = doc_id % 4
        y, x = np.indices((h, w), dtype=np.int64)
        split = 64 if doc_id % 5 == 0 else 0
        if var == 2:
            idx = ((s + 7 * x + 13 * y) % psize).astype(np.uint8)
            i = np.arange(psize, dtype=np.int64)
            pal = (
                (s * 3 + 37 * i[:, None] + 11 * np.arange(3)) % 256
            ).astype(np.uint8)
            return encode_png(
                idx, 3, palette=pal, filter_seed=s + doc_id,
                idat_split=split,
            )
        ct, ch, inter = {0: (0, 1, 0), 1: (2, 3, 0), 3: (6, 4, 1)}[var]
        c = np.arange(ch, dtype=np.int64)
        v = (
            (s + 31 * x[:, :, None] + 17 * y[:, :, None] + 97 * c) % 256
        ).astype(np.uint8)
        src = v[:, :, 0] if ch == 1 else v
        return encode_png(
            src, ct, interlace=inter, filter_seed=s + doc_id,
            idat_split=split,
        )

    return with_payload(df, one)


def png_image_stats(df: DataFrame) -> DataFrame:
    """REAL lossless-image decode: PNG -> pixels inside one Arrow
    mapInPandas pass (chunk walk with per-chunk CRC-32 verification,
    DEFLATE inflate, scanline unfiltering incl. Paeth, Adam7 pass
    scatter, palette expansion), then exact-integer pixel stats.
    ``pos_checksum`` is weighted by row-major (y*W + x)*C + c + 1, so
    scanline order, channel order AND the Adam7 deinterlace are pinned —
    a pass scattered to the wrong lattice hash-fails.  Per-row
    independent work: no shuffle, linear in the corpus."""
    from flinkexp_spark.functions.png import decode_png

    def one(payload: bytes):
        img, meta = decode_png(bytes(payload))
        return (meta["width"], meta["height"], img.shape[2], *value_stats(img))

    cols = [
        "width", "height", "n_channels", "pix_sum", "pix_min", "pix_max",
        "pos_checksum",
    ]
    return int_stats(df, cols, one)


# ---------------------------------------------------------------------------
# GIF fixtures (functions/gif.py — from-spec LZW image codec)
# ---------------------------------------------------------------------------

GIF_DIM_MOD = 24  # width  = strlen % 24 + 9
GIF_DIM_MIN = 9  # height = (strlen*5 + doc_id) % 24 + 9
GIF_PAL_BASE = 16  # palette size = 16 + (doc_id % 3) * 8 -> 16/24/32
GIF_PAL_STEP = 8  # (24 forces non-power-of-two color-table padding)


def with_gif_payload(df: DataFrame) -> DataFrame:
    """Attach a REAL GIF payload written by the from-spec encoder in
    functions/gif.py (real variable-width LZW, sub-block framing, a
    Graphic Control Extension the decoder must skip).  Pixel index
    (x, y) = (s + 11x + 23y) % P with palette entry
    (i, c) = (s*5 + 41i + 13c) % 256; P = 16 + (doc_id % 3) * 8, so a
    third of the corpus uses a 24-color table whose power-of-two padding
    the decoder must NOT misread as image data.  doc_id bit 0 toggles
    4-pass interlacing, bit 1 toggles local-vs-global color table."""
    from flinkexp_spark.functions.gif import encode_gif

    dmod, dmin = GIF_DIM_MOD, GIF_DIM_MIN
    pbase, pstep = GIF_PAL_BASE, GIF_PAL_STEP

    def one(doc_id: int, text: str) -> bytes:
        raw = text.encode("utf-8")
        s = hashlib.md5(raw).digest()[0]
        w = len(raw) % dmod + dmin
        h = (len(raw) * 5 + doc_id) % dmod + dmin
        psize = pbase + (doc_id % 3) * pstep
        y, x = np.indices((h, w), dtype=np.int64)
        idx = ((s + 11 * x + 23 * y) % psize).astype(np.uint8)
        i = np.arange(psize, dtype=np.int64)
        pal = (
            (s * 5 + 41 * i[:, None] + 13 * np.arange(3)) % 256
        ).astype(np.uint8)
        return encode_gif(
            idx,
            pal,
            interlace=bool(doc_id % 2),
            local_palette=bool((doc_id // 2) % 2),
        )

    return with_payload(df, one)


def gif_image_stats(df: DataFrame) -> DataFrame:
    """REAL LZW-image decode: GIF -> RGB pixels inside one Arrow
    mapInPandas pass (container walk with extension skipping, LZW code
    table rebuilt from the stream, 4-pass deinterlace, color-table
    expansion), then exact-integer pixel stats.  ``pos_checksum`` is
    weighted by row-major (y*W + x)*3 + c + 1, pinning row order,
    channel order and the interlace inversion.  ``palette_slots`` is the
    decoder-visible (power-of-two padded) color-table size, pinning the
    size-field arithmetic.  Per-row independent: no shuffle."""
    from flinkexp_spark.functions.gif import decode_gif

    def one(payload: bytes):
        img, meta = decode_gif(bytes(payload))
        return (
            meta["width"], meta["height"], meta["palette_size"],
            *value_stats(img),
        )

    cols = [
        "width", "height", "palette_slots", "pix_sum", "pix_min", "pix_max",
        "pos_checksum",
    ]
    return int_stats(df, cols, one)


# ---------------------------------------------------------------------------
# MJPEG/AVI fixtures (functions/avi.py + functions/jpeg.py)
# ---------------------------------------------------------------------------

MJPEG_MAX_FRAMES = 4  # n_frames = doc_id % 4 + 2 (2..5)
MJPEG_MIN_FRAMES = 2
MJPEG_FPS_BASE = 10  # fps = 10 + (doc_id % 3) * 5
MJPEG_FPS_STEP = 5
MJPEG_FRAME_SEED = 97  # frame f gray ramp seed offset: s + 97*f


def with_mjpeg_payload(df: DataFrame) -> DataFrame:
    """Attach a REAL video payload: an MJPG AVI (functions/avi.py) whose
    frames are complete baseline JFIF streams from the from-spec JPEG
    encoder.  Frame f's gray plane is the block-constant ramp
    ``(s + 97*f + 17*block) % 160 + 48`` — same DC-quant-8 trick as the
    still-image fixture, so the LOSSY encode+decode round-trip lands on
    exact integers and the oracle recomputes every pixel of every frame
    arithmetically."""
    from flinkexp_spark.functions.avi import build_mjpeg_avi
    from flinkexp_spark.functions.jpeg import encode_baseline_jpeg

    max_dim, step, dcq = JPEG_PX_MAX_DIM, JPEG_PX_BLOCK_STEP, JPEG_PX_DC_QUANT
    nf_mod, nf_min = MJPEG_MAX_FRAMES, MJPEG_MIN_FRAMES
    fps_base, fps_step, fseed = MJPEG_FPS_BASE, MJPEG_FPS_STEP, MJPEG_FRAME_SEED

    def one(doc_id: int, text: str) -> bytes:
        raw = text.encode("utf-8")
        w = len(raw) % max_dim + 1
        h = doc_id % max_dim + 1
        s = hashlib.md5(raw).digest()[0]
        nf = doc_id % nf_mod + nf_min
        bw = (w + 7) // 8
        ys, xs = np.mgrid[0:h, 0:w]
        block = (ys // 8) * bw + xs // 8
        q = np.full(64, 16, dtype=np.int64)
        q[0] = dcq
        frames = []
        for f in range(nf):
            gray = ((s + fseed * f + step * block) % 160 + 48).astype(
                np.uint8
            )
            rgb = np.stack([gray, gray, gray], axis=-1)
            frames.append(encode_baseline_jpeg(rgb, [q, q]))
        return build_mjpeg_avi(
            frames, w, h, fps_base + (doc_id % 3) * fps_step
        )

    return with_payload(df, one)


def mjpeg_frame_stats(df: DataFrame) -> DataFrame:
    """REAL video decode: AVI RIFF demux (header/index cross-checks) +
    per-frame baseline-JPEG entropy decode inside one Arrow mapInPandas
    pass, then exact-integer pixel stats over ALL frames.
    ``pos_checksum`` is weighted by the GLOBAL position
    f*W*H + y*W + x + 1, so frame ORDER is pinned on top of scanline
    order — frames demuxed out of index order hash-fail.  Per-row
    independent work: no shuffle, linear in the corpus."""
    from flinkexp_spark.functions.avi import demux_mjpeg_avi
    from flinkexp_spark.functions.jpeg import decode_baseline_jpeg

    def one(payload: bytes):
        frames, meta = demux_mjpeg_avi(bytes(payload))
        grays = []
        for fr in frames:
            px = decode_baseline_jpeg(fr)
            gray = px[..., 0] if px.ndim == 3 else px
            if gray.shape != (meta["height"], meta["width"]):
                raise ValueError("frame geometry disagrees with header")
            grays.append(gray.astype(np.int64).reshape(-1))
        return (
            meta["n_frames"], meta["width"], meta["height"], meta["fps"],
            *value_stats(np.concatenate(grays)),
        )

    cols = [
        "n_frames", "width", "height", "fps", "px_sum", "px_min", "px_max",
        "pos_checksum",
    ]
    return int_stats(df, cols, one)


# ---------------------------------------------------------------------------
# G.711 fixtures (functions/g711.py — telephony companding, WAV 0x0006/0x0007)
# ---------------------------------------------------------------------------
# The fixture synthesizes the CODE-BYTE STREAM arithmetically
# (b_i = (s*131 + s2 + 77*i) % 256 — gcd(77,256)=1, so every code byte
# including the segment extremes appears) and the decode is a per-byte
# closed form (see functions/g711.py module doc), so the DuckDB oracle
# replays the ENTIRE expansion in plain SQL: an independent-engine check
# of the decoder, not of the synthesis.

G711_N_MOD = 200  # n_samples = strlen(text) % 200 + 64
G711_N_MIN = 64
G711_RATE = 8000  # G.711's native telephony rate, both laws


def with_g711_payload(df: DataFrame) -> DataFrame:
    """Attach a mono G.711 WAV payload: even doc_ids carry µ-law (0x0007),
    odd carry A-law (0x0006); the code bytes follow the closed form the
    SQL oracle mirrors before replaying the expansion formula."""
    from flinkexp_spark.functions.g711 import (
        WAVE_FORMAT_ALAW,
        WAVE_FORMAT_MULAW,
        build_g711_wav,
    )

    n_mod, n_min, rate = G711_N_MOD, G711_N_MIN, G711_RATE

    def one(doc_id: int, text: str) -> bytes:
        d = hashlib.md5(text.encode("utf-8")).digest()
        s, s2 = d[0], d[1]
        n = len(text) % n_mod + n_min
        codes = bytes((s * 131 + s2 + 77 * i) % 256 for i in range(n))
        tag = WAVE_FORMAT_MULAW if doc_id % 2 == 0 else WAVE_FORMAT_ALAW
        return build_g711_wav(codes, rate, tag)

    return with_payload(df, one)


def g711_pcm_stats(df: DataFrame) -> DataFrame:
    """REAL compressed-audio decode: G.711 WAV -> PCM inside one Arrow
    mapInPandas pass (RIFF chunk walk, fmt/fact validation, vectorized
    segment-formula expansion), then exact-integer waveform stats.
    ``format_tag`` exposes which law decoded the row; ``pos_checksum``
    pins sample order.  Per-row independent work: no shuffle, linear in
    the corpus."""
    from flinkexp_spark.functions.g711 import decode_g711_wav

    def one(payload: bytes):
        pcm, rate, tag = decode_g711_wav(bytes(payload))
        return (tag, rate, 1, len(pcm), *value_stats(pcm))

    cols = [
        "format_tag", "sample_rate", "n_channels", "n_samples", "sample_sum",
        "sample_min", "sample_max", "pos_checksum",
    ]
    return int_stats(df, cols, one)


# ---------------------------------------------------------------------------
# APNG fixtures (functions/apng.py — animated PNG with real compositing)
# ---------------------------------------------------------------------------
# The fixture derives every frame arithmetically: canvas W/H from the row,
# frame g >= 1 covers (g%2, (g+1)%2, W-2, H-2), RGB value at CANVAS coords
# (X, Y) is (s + 31X + 17Y + 97c + 57g) % 256, blend is SOURCE when g == 0
# or (s+g) % 2 == 0 else OVER with BINARY alpha ((X+Y+g) % 3 != 0 -> 255),
# dispose cycles (s2+g) % 3 through NONE/BACKGROUND/PREVIOUS.  Because
# alphas are binary, the whole compositing recurrence is exact integer
# math and the DuckDB oracle replays it as a latest-effective-event argmax
# (see the register comment in catalog/llm_multimodal.py).

APNG_DIM_MOD = 12  # width  = strlen % 12 + 8  (8..19)
APNG_DIM_MIN = 8  # height = (strlen*3 + doc_id) % 12 + 8


def with_apng_payload(df: DataFrame) -> DataFrame:
    """Attach an APNG payload whose frames follow the closed forms above."""
    from flinkexp_spark.functions.apng import (
        BLEND_OVER,
        BLEND_SOURCE,
        build_apng,
    )

    dim_mod, dim_min = APNG_DIM_MOD, APNG_DIM_MIN

    def one(doc_id: int, text: str) -> bytes:
        dg = hashlib.md5(text.encode("utf-8")).digest()
        s, s2 = dg[0], dg[1]
        W = len(text) % dim_mod + dim_min
        H = (len(text) * 3 + doc_id) % dim_mod + dim_min
        n = doc_id % 3 + 2
        frs = []
        for g in range(n):
            if g == 0:
                x, y, w, h = 0, 0, W, H
            else:
                x, y, w, h = g % 2, (g + 1) % 2, W - 2, H - 2
            X, Y = np.meshgrid(np.arange(x, x + w), np.arange(y, y + h))
            pix = np.zeros((h, w, 4), np.uint8)
            for c in range(3):
                pix[..., c] = (s + 31 * X + 17 * Y + 97 * c + 57 * g) % 256
            blend = (
                BLEND_SOURCE
                if (g == 0 or (s + g) % 2 == 0)
                else BLEND_OVER
            )
            if blend == BLEND_SOURCE:
                pix[..., 3] = 255
            else:
                pix[..., 3] = np.where((X + Y + g) % 3 != 0, 255, 0)
            frs.append((x, y, pix, (s2 + g) % 3, blend))
        return build_apng(W, H, frs, filter_seed=s % 5)

    return with_payload(df, one)


def apng_frame_stats(df: DataFrame) -> DataFrame:
    """REAL animation decode: APNG -> composited canvases inside one Arrow
    mapInPandas pass (chunk walk with CRC + sequence-number validation,
    per-frame DEFLATE + unfilter, SOURCE/OVER blending, NONE/BACKGROUND/
    PREVIOUS disposal), then exact-integer stats over every rendered
    canvas INCLUDING the alpha channel.  ``pos_checksum`` is weighted by
    ((f*H + y)*W + x)*4 + c + 1, pinning frame order, scanline order,
    channel order AND the compositing history (a wrong dispose op moves
    bytes at exact positions).  Per-row independent work: no shuffle,
    linear in the corpus."""
    from flinkexp_spark.functions.apng import decode_apng

    def one(payload: bytes):
        canv, meta = decode_apng(bytes(payload))
        return (
            meta["n_frames"], meta["width"], meta["height"],
            *value_stats(canv),
        )

    cols = [
        "n_frames", "width", "height", "px_sum", "px_min", "px_max",
        "pos_checksum",
    ]
    return int_stats(df, cols, one)


# ---------------------------------------------------------------------------
# QOI fixtures (functions/qoi.py — Quite OK Image, all six chunk ops)
# ---------------------------------------------------------------------------
# The fixture synthesizes pixels as a CLOSED-FORM DELTA CHAIN and encodes
# them — the synthesized artifact is the BITSTREAM; the pixels only exist
# by decoding.  Per flattened pixel i, mode md = (s + 13i + i^2) % 8:
# md in {0,1,2} repeats the previous pixel (QOI_OP_RUN fodder), md=3 is a
# small wrapped delta (QOI_OP_DIFF range), md=4 a green-relative delta
# (QOI_OP_LUMA range), md in {5,6,7} (and always i=0) JUMPS to one of four
# palette colors pal(ch, k) = (5s + 47k + 31ch) % 256 with k = (s2+i) % 4 —
# revisited palette colors light up QOI_OP_INDEX, first visits QOI_OP_RGB.
# Pixel value = palette base at the LAST JUMP plus the prefix sum of
# deltas since, mod 256 — exactly the window algebra (last-jump grouping +
# per-group running sum) the DuckDB oracle replays in plain SQL.

QOI_DIM_MOD = 25  # w = strlen(text) % 25 + 8; h = (3*strlen + doc_id) % 25 + 8
QOI_DIM_MIN = 8


def qoi_fixture_pixels(doc_id: int, text: str):
    """Re-export of :func:`flinkexp_spark.functions.qoi.closed_chain_pixels`."""
    from flinkexp_spark.functions.qoi import closed_chain_pixels

    return closed_chain_pixels(
        doc_id, text, dim_mod=QOI_DIM_MOD, dim_min=QOI_DIM_MIN
    )


def with_qoi_payload(df: DataFrame) -> DataFrame:
    """Attach a QOI payload encoding the closed-form pixel chain."""
    from flinkexp_spark.functions.qoi import closed_chain_pixels, encode_qoi

    dim_mod, dim_min = QOI_DIM_MOD, QOI_DIM_MIN

    def fixture(doc_id: int, text: str):
        return closed_chain_pixels(doc_id, text, dim_mod=dim_mod, dim_min=dim_min)

    def one(doc_id: int, text: str) -> bytes:
        _w, _h, channels, px = fixture(doc_id, text)
        return encode_qoi(px, channels=channels)

    return with_payload(df, one)


def qoi_pixel_stats(df: DataFrame) -> DataFrame:
    """REAL image decode: QOI -> pixels inside one Arrow mapInPandas pass
    (header cross-checks, the 64-slot running index, all six chunk ops),
    then exact-integer stats.  ``pos_checksum`` = sum((3i+ch+1) * value)
    over channel-major order pins pixel AND channel order.  Per-row
    independent work: no shuffle, linear in the corpus."""
    from flinkexp_spark.functions.qoi import decode_qoi

    def one(payload: bytes):
        w, h, channels, px = decode_qoi(bytes(payload))
        return (w, h, channels, w * h, *value_stats(px[:, :channels]))

    cols = [
        "width", "height", "channels", "n_px", "px_sum", "px_min", "px_max",
        "pos_checksum",
    ]
    return int_stats(df, cols, one)


# ---------------------------------------------------------------------------
# General-purpose compression.  zlib/gzip, bzip2 and xz/LZMA2 payloads decode
# through the strict stdlib wrappers (functions/inflate.py, bzip2.py, xz.py
# over functions/drain.py); zstd, which has no stdlib module, through
# pyarrow's libzstd (functions/zstd.py).  Every fixture compresses a
# closed-form plaintext, so the DuckDB oracles recompute the byte stats
# arithmetically and payload bytes never reach a hashed column.
# ---------------------------------------------------------------------------


def byte_stats(df: DataFrame, decompress: Callable[[bytes], bytes]) -> DataFrame:
    """Decode each row's ``payload`` with ``decompress`` inside one Arrow
    mapInPandas pass, then exact-integer byte stats.  ``pos_checksum`` is
    weighted by the 1-based byte offset, pinning the decode ORDER — a
    member or block emitted out of sequence hash-fails.  Per-row
    independent work: no shuffle, linear in the corpus."""

    def one(payload: bytes):
        plain = decompress(bytes(payload))
        return (len(plain), *value_stats(np.frombuffer(plain, dtype=np.uint8)))

    cols = ["n_bytes", "byte_sum", "byte_min", "byte_max", "pos_checksum"]
    return int_stats(df, cols, one)


DEFLATE_LEN_MOD = 3000
DEFLATE_LEN_MIN = 2000
DEFLATE_PERIOD = 64


def with_deflate_payload(df: DataFrame) -> DataFrame:
    """Attach a zlib payload compressing the deterministic plaintext
    byte[i] = (s + 3*(i % 64)) % 256 of length len(text)*7 + doc_id mod
    3000 + 2000.  ``doc_id % 3`` cycles the three DEFLATE block types:

    * 0 — stored blocks (level 0: BTYPE=0, LEN/NLEN framing)
    * 1 — dynamic Huffman (level 9: BTYPE=2 with LZ77 matches — the
      periodic plaintext guarantees long overlapping copies)
    * 2 — fixed Huffman (strategy ``Z_FIXED``: BTYPE=1)"""
    lmod, lmin, per = DEFLATE_LEN_MOD, DEFLATE_LEN_MIN, DEFLATE_PERIOD

    def one(doc_id: int, text: str) -> bytes:
        raw = text.encode("utf-8")
        s = hashlib.md5(raw).digest()[0]
        n = (len(raw) * 7 + doc_id) % lmod + lmin
        i = np.arange(n)
        plain = ((s + 3 * (i % per)) % 256).astype(np.uint8).tobytes()
        var = doc_id % 3
        if var == 0:
            return zlib.compress(plain, 0)
        if var == 1:
            return zlib.compress(plain, 9)
        co = zlib.compressobj(9, zlib.DEFLATED, 15, 9, zlib.Z_FIXED)
        return co.compress(plain) + co.flush()

    return with_payload(df, one)


def deflate_stats(df: DataFrame) -> DataFrame:
    """zlib decode (functions/inflate.py) + :func:`byte_stats`."""
    from flinkexp_spark.functions.inflate import zlib_decompress

    return byte_stats(df, zlib_decompress)


GZIP_LEN_MOD = 2000
GZIP_LEN_MIN = 1500
GZIP_PERIOD = 48


def with_gzip_payload(df: DataFrame) -> DataFrame:
    """Attach a gzip (RFC 1952) payload compressing the deterministic
    plaintext byte[i] = (s*5 + 11*(i % 48)) % 256 of length
    len(text)*3 + doc_id mod 2000 + 1500.  ``doc_id % 3`` cycles the
    container layouts:

    * 0 — bare member, level 9 (dynamic blocks)
    * 1 — FNAME-bearing header (GzipFile filename), level 9
    * 2 — MULTI-MEMBER stream: the plaintext split across two
      concatenated members (second at level 0 -> stored blocks), which
      per §2.2 must decode to the same concatenated plaintext"""
    lmod, lmin, per = GZIP_LEN_MOD, GZIP_LEN_MIN, GZIP_PERIOD

    def one(doc_id: int, text: str) -> bytes:
        raw = text.encode("utf-8")
        s = hashlib.md5(raw).digest()[0]
        n = (len(raw) * 3 + doc_id) % lmod + lmin
        i = np.arange(n)
        plain = (
            (s * 5 + 11 * (i % per)) % 256
        ).astype(np.uint8).tobytes()
        var = doc_id % 3
        if var == 0:
            return _gz.compress(plain, 9, mtime=0)
        if var == 1:
            buf = io.BytesIO()
            with _gz.GzipFile(
                filename=f"doc{doc_id}.bin", mode="wb",
                fileobj=buf, mtime=0,
            ) as f:
                f.write(plain)
            return buf.getvalue()
        half = n // 2
        return _gz.compress(plain[:half], 9, mtime=0) + _gz.compress(
            plain[half:], 0, mtime=0
        )

    return with_payload(df, one)


def gzip_stats(df: DataFrame) -> DataFrame:
    """gzip decode (functions/inflate.py) + :func:`byte_stats`."""
    from flinkexp_spark.functions.inflate import gzip_decompress

    return byte_stats(df, gzip_decompress)


BZIP2_LEN_MOD = 2500
BZIP2_LEN_MIN = 1800
BZIP2_RUN = 9  # plaintext repeats each value 9x -> RLE1 runs (4 + count 5)
BZIP2_PERIOD = 37


def with_bzip2_payload(df: DataFrame) -> DataFrame:
    """Attach a .bz2 payload compressing the deterministic plaintext
    byte[i] = (s*3 + 13*((i // 9) % 37)) % 256 of length
    len(text)*5 + doc_id mod 2500 + 1800 — the 9-byte value runs put
    bzip2's RLE1 stage in every row (each run is 4 literal bytes + a
    count byte on the wire).  ``doc_id % 3`` cycles the container
    layouts:

    * 0 — single stream, level 9 (900k block size)
    * 1 — single stream, level 1 (100k block size)
    * 2 — MULTI-STREAM: plaintext split across two byte-aligned
      concatenated streams"""
    lmod, lmin = BZIP2_LEN_MOD, BZIP2_LEN_MIN
    run, per = BZIP2_RUN, BZIP2_PERIOD

    def one(doc_id: int, text: str) -> bytes:
        raw = text.encode("utf-8")
        s = hashlib.md5(raw).digest()[0]
        n = (len(raw) * 5 + doc_id) % lmod + lmin
        i = np.arange(n)
        plain = (
            (s * 3 + 13 * ((i // run) % per)) % 256
        ).astype(np.uint8).tobytes()
        var = doc_id % 3
        if var == 0:
            return _bz2.compress(plain, 9)
        if var == 1:
            return _bz2.compress(plain, 1)
        half = n // 2
        return _bz2.compress(plain[:half], 9) + _bz2.compress(
            plain[half:], 1
        )

    return with_payload(df, one)


def bzip2_stats(df: DataFrame) -> DataFrame:
    """bzip2 decode (functions/bzip2.py) + :func:`byte_stats`."""
    from flinkexp_spark.functions.bzip2 import bz2_decompress

    return byte_stats(df, bz2_decompress)


# ---------------------------------------------------------------------------
# TIFF + LZW (X5, r13): the MSB-first early-change LZW variant with the
# classic TIFF container (functions/tiff.py), next to GIF's LSB-first LZW.
# ---------------------------------------------------------------------------

TIFF_W_MOD = 40
TIFF_W_MIN = 24
TIFF_H_MOD = 48
TIFF_H_MIN = 16


def with_tiff_payload(df: DataFrame) -> DataFrame:
    """Attach a REAL classic-TIFF payload: an 8-bit grayscale image with
    closed-form pixels v(x,y) = (s + 3x + 7y + (x*y)%5) % 256 of
    dimensions w = doc_id mod 40 + 24, h = (len(text)*3 + doc_id) mod 48
    + 16, LZW-compressed (Compression=5).  ``doc_id % 3`` cycles the
    reader's container paths:

    * 0 — little-endian, single strip, Predictor 1
    * 1 — little-endian, 8-row strips, Predictor 2 (horizontal diff)
    * 2 — BIG-endian (``MM``), 11-row strips, Predictor 2

    Encode side is the from-spec writer in functions/tiff.py (fixture
    synthesis — no stdlib TIFF exists); decode under test is the from-spec
    IFD walk + MSB-first early-change LZW + predictor undo, pinned to
    hand-derived spec vectors in tests/test_tiff_lzw.py."""
    from flinkexp_spark.functions.tiff import tiff_encode_gray

    wmod, wmin, hmod, hmin = TIFF_W_MOD, TIFF_W_MIN, TIFF_H_MOD, TIFF_H_MIN

    def one(doc_id: int, text: str) -> bytes:
        raw = text.encode("utf-8")
        s = hashlib.md5(raw).digest()[0]
        w = doc_id % wmod + wmin
        h = (len(raw) * 3 + doc_id) % hmod + hmin
        x = np.arange(w, dtype=np.int64)[None, :]
        y = np.arange(h, dtype=np.int64)[:, None]
        px = ((s + 3 * x + 7 * y + (x * y) % 5) % 256).astype(np.uint8)
        var = doc_id % 3
        if var == 0:
            return tiff_encode_gray(px)
        if var == 1:
            return tiff_encode_gray(px, rows_per_strip=8, predictor=2)
        return tiff_encode_gray(
            px, rows_per_strip=11, predictor=2, big_endian=True
        )

    return with_payload(df, one)


def tiff_stats(df: DataFrame) -> DataFrame:
    """REAL from-spec TIFF decode (functions/tiff.py: header + IFD walk in
    both byte orders, strip assembly, MSB-first early-change LZW,
    Predictor-2 undo) inside one Arrow mapInPandas pass, then
    exact-integer pixel stats.  Per-row independent, no shuffle."""
    from flinkexp_spark.functions.tiff import tiff_decode_gray

    def one(payload: bytes):
        img = tiff_decode_gray(bytes(payload))
        h, w = img.shape
        return (w, h, img.size, *value_stats(img))

    cols = [
        "width", "height", "n_px", "px_sum", "px_min", "px_max",
        "pos_checksum",
    ]
    return int_stats(df, cols, one)


# ---------------------------------------------------------------------------
# zstd frames (X5, r13) through pyarrow's libzstd (functions/zstd.py).
# ---------------------------------------------------------------------------

ZSTD_LEN_MOD = 2200
ZSTD_LEN_MIN = 1600
ZSTD_RUN = 150  # 150-byte value runs
ZSTD_PERIOD = 53


def with_zstd_payload(df: DataFrame) -> DataFrame:
    """Attach a zstd payload carrying the deterministic plaintext byte[i] =
    (s*7 + 17*((i // 150) % 53)) % 256 of length len(text)*4 + doc_id mod
    2200 + 1600.  ``doc_id % 3`` cycles the container layouts:

    * 0 — one frame
    * 1 — skippable metadata frame + one frame
    * 2 — two concatenated frames splitting the plaintext

    tests/test_zstd.py round-trips the frames through the system's
    ``zstd`` binary in both directions."""
    from flinkexp_spark.functions.zstd import (
        zstd_compress,
        zstd_skippable_frame,
    )

    lmod, lmin = ZSTD_LEN_MOD, ZSTD_LEN_MIN
    run, per = ZSTD_RUN, ZSTD_PERIOD

    def one(doc_id: int, text: str) -> bytes:
        raw = text.encode("utf-8")
        s = hashlib.md5(raw).digest()[0]
        n = (len(raw) * 4 + doc_id) % lmod + lmin
        i = np.arange(n)
        plain = (
            (s * 7 + 17 * ((i // run) % per)) % 256
        ).astype(np.uint8).tobytes()
        var = doc_id % 3
        if var == 0:
            return zstd_compress(plain)
        if var == 1:
            return zstd_skippable_frame(
                b"doc metadata", doc_id % 16
            ) + zstd_compress(plain)
        half = n // 2
        return zstd_compress(plain[:half]) + zstd_compress(plain[half:])

    return with_payload(df, one)


def zstd_stats(df: DataFrame) -> DataFrame:
    """zstd decode (functions/zstd.py) + :func:`byte_stats`."""
    from flinkexp_spark.functions.zstd import zstd_decompress

    return byte_stats(df, zstd_decompress)


# ---------------------------------------------------------------------------
# .xz payloads (functions/xz.py): multi-stream files with Stream Padding
# (multimodal_decode_xz_frames) and the LZMA2 encoder presets/filter chains
# (multimodal_decode_lzma2).
# ---------------------------------------------------------------------------

XZ_LEN_MOD = 2400
XZ_LEN_MIN = 1500
XZ_RUN = 170  # 170-byte value runs (payload variety)
XZ_PERIOD = 47


def with_xz_payload(df: DataFrame) -> DataFrame:
    """Attach a .xz payload carrying the deterministic plaintext
    byte[i] = (s*11 + 23*((i // 170) % 47)) % 256 of length
    len(text)*4 + doc_id mod 2400 + 1500.  ``doc_id % 4`` cycles the
    integrity checks and the multi-stream layout:

    * 0 — one stream, CRC-64 check (the xz default)
    * 1 — one stream, CRC-32 check
    * 2 — two concatenated streams split mid-payload (SHA-256, then no
      check) with 4, 8 or 12 bytes of zero Stream Padding between them —
      the layout ``lzma.decompress`` silently truncates
    * 3 — one stream, no check"""
    lmod, lmin = XZ_LEN_MOD, XZ_LEN_MIN
    run, per = XZ_RUN, XZ_PERIOD

    def xz(data: bytes, check: int) -> bytes:
        # preset 0 is the cheapest encoder; the presets are
        # multimodal_decode_lzma2's subject, not this fixture's
        return lzma.compress(data, preset=0, check=check)

    def one(doc_id: int, text: str) -> bytes:
        raw = text.encode("utf-8")
        s = hashlib.md5(raw).digest()[0]
        n = (len(raw) * 4 + doc_id) % lmod + lmin
        i = np.arange(n)
        plain = (
            (s * 11 + 23 * ((i // run) % per)) % 256
        ).astype(np.uint8).tobytes()
        var = doc_id % 4
        if var == 0:
            return xz(plain, lzma.CHECK_CRC64)
        if var == 1:
            return xz(plain, lzma.CHECK_CRC32)
        if var == 2:
            half = n // 2
            return (
                xz(plain[:half], lzma.CHECK_SHA256)
                + b"\0" * (4 * (1 + doc_id % 3))
                + xz(plain[half:], lzma.CHECK_NONE)
            )
        return xz(plain, lzma.CHECK_NONE)

    return with_payload(df, one)


LZMA2_LEN_MOD = 3000
LZMA2_LEN_MIN = 2000


def with_lzma2_payload(df: DataFrame) -> DataFrame:
    """Attach a compressed .xz payload (range-coded LZMA2 chunks)
    carrying the deterministic plaintext byte[i] = (s*11 + 23*((i // 170)
    % 47)) % 256 of length len(text)*4 + doc_id mod 3000 + 2000.
    ``doc_id % 4`` cycles encoder shapes:

    * 0 — preset 6, CRC-64 check (the xz default)
    * 1 — preset 0 (fast mode's different match emission), CRC-32
    * 2 — preset 9|EXTREME, SHA-256
    * 3 — custom filter chain (64 KiB dict, lc=0 lp=2 pb=1: the
      non-default literal-context split), no check
    """
    lmod, lmin = LZMA2_LEN_MOD, LZMA2_LEN_MIN
    run, per = XZ_RUN, XZ_PERIOD

    def one(doc_id: int, text: str) -> bytes:
        raw = text.encode("utf-8")
        s = hashlib.md5(raw).digest()[0]
        n = (len(raw) * 4 + doc_id) % lmod + lmin
        i = np.arange(n)
        plain = (
            (s * 11 + 23 * ((i // run) % per)) % 256
        ).astype(np.uint8).tobytes()
        var = doc_id % 4
        if var == 0:
            return lzma.compress(
                plain, format=lzma.FORMAT_XZ, check=lzma.CHECK_CRC64,
                preset=6,
            )
        if var == 1:
            return lzma.compress(
                plain, format=lzma.FORMAT_XZ, check=lzma.CHECK_CRC32,
                preset=0,
            )
        if var == 2:
            return lzma.compress(
                plain, format=lzma.FORMAT_XZ, check=lzma.CHECK_SHA256,
                preset=9 | lzma.PRESET_EXTREME,
            )
        return lzma.compress(
            plain, format=lzma.FORMAT_XZ, check=lzma.CHECK_NONE,
            filters=[{
                "id": lzma.FILTER_LZMA2, "dict_size": 1 << 16,
                "lc": 0, "lp": 2, "pb": 1,
            }],
        )

    return with_payload(df, one)


def xz_stats(df: DataFrame) -> DataFrame:
    """.xz decode (functions/xz.py) + :func:`byte_stats`."""
    from flinkexp_spark.functions.xz import xz_decompress

    return byte_stats(df, xz_decompress)
