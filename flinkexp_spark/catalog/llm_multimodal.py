"""X5 multimodal-column queries: binary payloads + metadata through real
Arrow/mapInPandas plumbing, oracle-checked (SURVEY §2.3 X5).

The md5-derived fake feature extractor makes even the "model inference"
stage exactly reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkexp_spark import datasets
from flinkexp_spark.functions import multimodal as M
from flinkexp_spark.functions.text import h64_sql
from flinkexp_spark.registry import register


@register(
    "multimodal_metadata",
    # Byte semantics, not characters: the Spark side reads raw utf-8 payload
    # bytes, so the oracle extracts true bytes via hex(encode(text)) — byte i
    # is hex digits [2i+1, 2i+2].  (ascii(substr(...)) would give CODEPOINTS,
    # which diverge from bytes on any multi-byte text.)
    oracle="""
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
               CAST(MIN(CAST(concat('0x', substr(hex(encode(text)), 1, 2))
                             AS BIGINT)) AS BIGINT) AS min_first_byte
        FROM documents
        GROUP BY source
    """,
    tags=("X5", "U2"),
)
def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: binary payload column -> mapInPandas metadata scan -> aggregate.

    Exercises the full multimodal path: attach binary + metadata struct,
    Arrow-batch the bytes through Python, aggregate the extracted fields.
    (Payload = utf-8 text bytes, so the oracle mirrors with octet_length.)
    """
    docs = datasets.load(spark, sf_dir, "documents")
    payloads = M.with_binary_payload(docs)
    meta = M.extract_binary_metadata(payloads)
    return (
        meta.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.min("first_byte").alias("min_first_byte"),
        )
    )


@register(
    "multimodal_frame_sample",
    # Frame boundaries and first_byte are BYTE offsets (hex(encode(...)), 2
    # hex digits per byte) — matches the Spark side's raw bytes on any text,
    # not just ASCII.
    oracle=f"""
        WITH f AS (
            SELECT doc_id, strlen(text) AS n, hex(encode(text)) AS hx,
                   unnest(range(CAST(ceil(strlen(text) / {float(M.FRAME_BYTES)})
                                     AS BIGINT))) AS i
            FROM documents WHERE doc_id < 200)
        SELECT doc_id,
               i AS frame_idx,
               CAST(least({M.FRAME_BYTES}, n - i * {M.FRAME_BYTES}) AS BIGINT)
                   AS frame_bytes,
               CAST(concat('0x', substr(hx, CAST(i * {2 * M.FRAME_BYTES} + 1 AS BIGINT), 2))
                    AS BIGINT) AS first_byte
        FROM f
    """,
    tags=("X5", "U2"),
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: frame sampling over binary payloads — the 1->N UDTF shape a video
    decoder uses, with deterministic byte-window "frames" so every emitted
    row is oracle-checkable."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    payloads = M.with_binary_payload(docs)
    return M.chunk_payload(payloads)


@register(
    "multimodal_decode_meta",
    # Oracle mirrors the PPM construction arithmetically: dimensions from the
    # row, pixel bytes cycling (md5_byte0 + i) % 256 — so the DECODED header
    # fields and pixel-sum are exactly checkable without a decoder.
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   strlen(text) % {M.PPM_MAX_DIM} + 1 AS w,
                   doc_id % {M.PPM_MAX_DIM} + 1 AS h,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s
            FROM documents WHERE doc_id < 100),
        px AS (SELECT doc_id, w, h, s, unnest(range(w * h * 3)) AS g FROM m)
        SELECT doc_id,
               CAST(w AS BIGINT) AS width,
               CAST(h AS BIGINT) AS height,
               CAST(w * h * 3 AS BIGINT) AS n_px_bytes,
               CAST(SUM((s + g) % 256) AS BIGINT) AS px_sum
        FROM px GROUP BY 1, 2, 3, 4
    """,
    tags=("X5", "U2"),
)
def q_multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: REAL image decode through the multimodal seam — encode each doc as
    an actual P6 PPM (header + RGB buffer), then decode by parsing the bytes
    in mapInPandas.  Proves the codec seam end-to-end: binary in parquet ->
    Arrow batch -> header parse -> pixel walk -> typed rows, the exact
    plumbing a PIL/ffmpeg decoder drops into."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.decode_ppm(M.with_ppm_payload(docs))


@register(
    "multimodal_decode_jpeg_meta",
    # Oracle mirrors the JFIF construction arithmetically: SOF0 dimensions
    # from the row, DQT coefficient i = (md5_byte0 + 7i) % 255 + 1 — so the
    # PARSED header fields and coefficient sum are exactly checkable
    # without a JPEG library.
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   strlen(text) % {M.JPEG_MAX_DIM} + 1 AS w,
                   doc_id % {M.JPEG_MAX_DIM} + 1 AS h,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s
            FROM documents WHERE doc_id < 100),
        qc AS (SELECT doc_id, w, h, s, unnest(range(64)) AS i FROM m)
        SELECT doc_id,
               CAST(w AS BIGINT) AS width,
               CAST(h AS BIGINT) AS height,
               CAST(3 AS BIGINT) AS n_components,
               CAST(8 AS BIGINT) AS precision,
               CAST(SUM((s + 7 * i) % 255 + 1) AS BIGINT) AS dqt_sum
        FROM qc GROUP BY 1, 2, 3
    """,
    tags=("X5", "U2"),
)
def q_multimodal_decode_jpeg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: REAL compressed-container metadata parse — encode each doc as a
    marker-correct baseline JPEG (JFIF APP0, DQT, SOF0, DHT, SOS segments
    with true big-endian lengths), then walk the segments back in
    mapInPandas pulling dimensions, precision, component count, and the
    quantization-table sum.  This is what `identify`/PIL `.size` do; only
    the entropy decode stays stubbed (functions/multimodal.py
    decode_image)."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.decode_jpeg_meta(M.with_jpeg_payload(docs))


@register(
    "multimodal_decode_wav",
    # Oracle mirrors the PCM synthesis arithmetically: rate and sample count
    # from the row, sample_i = (md5_byte0*257 + i*9973) % 65536 - 32768 — so
    # the DECODED container fields and waveform sum are exactly checkable.
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   {M.WAV_BASE_RATE} + (doc_id % 3) * {M.WAV_RATE_STEP}
                       AS sample_rate,
                   strlen(text) % {M.WAV_MAX_SAMPLES} + 8 AS n_samples,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s
            FROM documents WHERE doc_id < 100),
        sm AS (SELECT doc_id, sample_rate, n_samples, s,
                      unnest(range(n_samples)) AS i
               FROM m)
        SELECT doc_id,
               CAST(sample_rate AS BIGINT) AS sample_rate,
               CAST(1 AS BIGINT) AS n_channels,
               CAST(n_samples AS BIGINT) AS n_samples,
               CAST(SUM((s * 257 + i * 9973) % 65536 - 32768) AS BIGINT)
                   AS amp_sum,
               CAST(floor(n_samples * 1000.0 / sample_rate) AS BIGINT)
                   AS duration_ms
        FROM sm GROUP BY 1, 2, 3, 4, 6
    """,
    tags=("X5", "U2"),
)
def q_multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: REAL audio decode through the multimodal seam — encode each doc as
    an actual 16-bit PCM WAV (stdlib ``wave`` writer: RIFF header, fmt
    chunk, frame buffer), then decode by parsing the container back in
    mapInPandas.  Second live codec beside PPM (multimodal_decode_meta);
    the perceptual-codec seams (MP3/Vorbis DSP) stay stubbed —
    FLAC decodes for real since r08 (multimodal_decode_flac_pcm)."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.decode_wav(M.with_wav_payload(docs))


@register(
    "multimodal_decode_ogg_meta",
    # Oracle mirrors the Ogg construction arithmetically: page count from
    # doc_id, page-i body length (strlen + i) % 32 + 1, body byte j =
    # (md5_byte0 + j) % 256, granule accumulating body bytes — so the
    # WALKED page metadata is exactly checkable without a vorbis decoder.
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   doc_id % {M.OGG_MAX_PAGES} + 1 AS n_pages,
                   strlen(text) AS bl,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s
            FROM documents WHERE doc_id < 100),
        pg AS (SELECT doc_id, s, bl, unnest(range(n_pages)) AS i FROM m),
        pl AS (SELECT doc_id, s, i, (bl + i) % {M.OGG_MAX_BODY} + 1 AS L
               FROM pg),
        bt AS (SELECT doc_id, s, i, L, unnest(range(L)) AS j FROM pl),
        pp AS (SELECT doc_id, s, i, L, SUM((s + j) % 256) AS psum
               FROM bt GROUP BY 1, 2, 3, 4)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_pages,
               CAST(SUM(L) AS BIGINT) AS n_body_bytes,
               CAST(SUM(psum) AS BIGINT) AS body_sum,
               CAST(SUM(L) AS BIGINT) AS last_granule,
               CAST(s AS BIGINT) AS serial
        FROM pp GROUP BY doc_id, s
    """,
    tags=("X5", "U2"),
)
def q_multimodal_decode_ogg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: REAL Ogg container walk — encode each doc as a spec-correct Ogg
    page sequence (captures, LE header fields, BOS/EOS flags, lacing),
    then walk the pages back in mapInPandas checking flag placement and
    sequence continuity.  ogginfo-level metadata; the vorbis packet DSP
    stays stubbed (spec tables offline-underivable; functions/flac.py doc) —
    compressed-audio PCM decode is real via FLAC (multimodal_decode_flac_pcm)."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.decode_ogg_meta(M.with_ogg_payload(docs))


@register(
    "multimodal_decode_mp3_meta",
    # Oracle mirrors the MP3 frame arithmetic: frame count and bitrate
    # index from doc_id, frame length 144*kbps*1000 // 44100 + padding
    # (padding alternates), duration n*1152*1000 // rate — the exact
    # constant-bitrate duration-probe math.
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   doc_id % {M.MP3_MAX_FRAMES} + 1 AS n_frames,
                   CASE doc_id % 3 WHEN 0 THEN 128 WHEN 1 THEN 192
                        ELSE 320 END AS kbps
            FROM documents WHERE doc_id < 100)
        SELECT doc_id,
               CAST(n_frames AS BIGINT) AS n_frames,
               CAST(kbps AS BIGINT) AS bitrate_kbps,
               CAST({M.MP3_SAMPLE_RATE} AS BIGINT) AS sample_rate,
               CAST(n_frames * 1152 * 1000 // {M.MP3_SAMPLE_RATE} AS BIGINT)
                   AS duration_ms,
               CAST(n_frames * (144 * kbps * 1000 // {M.MP3_SAMPLE_RATE})
                    + n_frames // 2 AS BIGINT) AS n_bytes
        FROM m
    """,
    tags=("X5", "U2"),
)
def q_multimodal_decode_mp3_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: REAL MP3 frame walk — encode each doc as sync-correct MPEG-1
    Layer III frames (true bitrate/samplerate table indices, alternating
    padding bit), then traverse them in mapInPandas by computing each
    frame's length from the header tables.  Constant-bitrate duration
    probing; only the Huffman/MDCT audio decode stays stubbed."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.decode_mp3_meta(M.with_mp3_payload(docs))


@register(
    "multimodal_video_frames",
    # Oracle mirrors the Y4M construction arithmetically: dimensions and
    # frame count from the row, frame f filled with (md5_byte0 + 7f) % 256 —
    # so each SAMPLED frame's byte-sum is exactly checkable without a
    # demuxer.  strlen() is DuckDB's BYTE length, matching the encoder's
    # len(text.encode('utf-8')).
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   strlen(text) % {M.Y4M_MAX_DIM} + 2 AS w,
                   doc_id % {M.Y4M_MAX_DIM} + 2 AS h,
                   doc_id % {M.Y4M_MAX_FRAMES} + 2 AS nf,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s
            FROM documents WHERE doc_id < 100),
        f AS (SELECT doc_id, w, h, s, unnest(range(nf)) AS fi FROM m)
        SELECT doc_id,
               fi AS frame_idx,
               CAST(w AS BIGINT) AS width,
               CAST(h AS BIGINT) AS height,
               CAST(w * h * 3 AS BIGINT) AS frame_bytes,
               CAST(w * h * 3 * ((s + {M.Y4M_FRAME_STEP} * fi) % 256) AS BIGINT)
                   AS byte_sum
        FROM f WHERE fi % 2 = 0
    """,
    tags=("X5", "U2"),
)
def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: REAL video demux through the multimodal seam — encode each doc as
    an actual YUV4MPEG2 stream (text header + FRAME-delimited raw planes),
    then parse the container back in mapInPandas, sampling every 2nd frame
    (1->N rows, the U2 UDTF shape).  Third live codec beside PPM and WAV;
    the compressed mp4/h264 seam stays stubbed
    (functions/multimodal.py sample_frames)."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.sample_y4m_frames(M.with_y4m_payload(docs), every_n=2)


def _fake_feature_sql(j: int) -> str:
    seed = f"concat(md5(text), '-', '{j}')"
    return f"({h64_sql(seed)} % 1000) / 1000.0 AS f_{j}"


_FAKE_FEATURES = ", ".join(_fake_feature_sql(j) for j in range(M.FAKE_FEATURE_DIM))


@register(
    "multimodal_fake_features",
    oracle=f"""
        WITH f AS (
            SELECT doc_id, {_FAKE_FEATURES}
            FROM documents WHERE doc_id < 100)
        SELECT doc_id, f_0, f_1, f_2, f_3 FROM f
    """,
    tags=("X5", "U1"),
)
def q_multimodal_fake_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: deterministic "feature extraction" over binary payloads via
    mapInPandas — the model-inference stage with a reproducible fake model.
    """
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    payloads = M.with_binary_payload(docs)
    feats = M.fake_feature_extract(payloads)
    return feats.select(
        "doc_id",
        *[
            F.element_at(F.col("features"), j + 1).alias(f"f_{j}")
            for j in range(M.FAKE_FEATURE_DIM)
        ],
    )


@register(
    "multimodal_scene_cuts",
    # Same arithmetic mirror as multimodal_video_frames: frame f's mean
    # luma is (md5_byte0 + 7f) % 256 exactly, so scene-cut positions (mean
    # DROPS at the 256-wraparound) are checkable without a demuxer.
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   doc_id % {M.Y4M_MAX_FRAMES} + 2 AS nf,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s
            FROM documents WHERE doc_id < 100),
        f AS (
            SELECT doc_id, nf,
                   unnest(range(nf)) AS fi,
                   (s + {M.Y4M_FRAME_STEP} * unnest(range(nf))) % 256
                       AS mean_luma
            FROM m),
        d AS (
            SELECT doc_id, nf, fi, mean_luma,
                   mean_luma - LAG(mean_luma) OVER (
                       PARTITION BY doc_id ORDER BY fi) AS delta
            FROM f)
        SELECT doc_id,
               CAST(MAX(nf) AS BIGINT) AS n_frames,
               CAST(SUM(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_cuts,
               CAST(COALESCE(MIN(CASE WHEN delta < 0 THEN fi END), -1)
                    AS BIGINT) AS first_cut
        FROM d GROUP BY doc_id
    """,
    tags=("X5", "U2", "W2"),
)
def q_multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 temporal analysis: scene-cut detection over REAL demuxed video.
    Every frame's mean luma comes from the actual plane bytes (sum/size of
    the decoded C444 buffer), then a lag window flags cuts where mean
    luminance drops between consecutive frames.

    The decode is per-payload inside mapInPandas (executor-local, no
    shuffle); only the per-doc frame SERIES — a few ints per frame, not
    pixels — reaches the window, so the shuffle is O(frames), independent
    of resolution.  That ordering (decode -> tiny series -> window) is the
    100 TB video-pipeline shape: pixels never cross the wire.
    """
    docs = datasets.load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 100
    )
    frames = M.sample_y4m_frames(M.with_y4m_payload(docs), every_n=1)
    luma = frames.select(
        "doc_id",
        "frame_idx",
        (F.col("byte_sum") / F.col("frame_bytes")).cast("long").alias(
            "mean_luma"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    d = luma.withColumn(
        "delta", F.col("mean_luma") - F.lag("mean_luma").over(w)
    )
    return d.groupBy("doc_id").agg(
        (F.max("frame_idx") + 1).cast("long").alias("n_frames"),
        F.sum(F.when(F.col("delta") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_cuts"),
        F.coalesce(
            F.min(F.when(F.col("delta") < 0, F.col("frame_idx"))), F.lit(-1)
        ).cast("long").alias("first_cut"),
    )


@register(
    "multimodal_audio_stats",
    # Oracle mirrors the PCM synthesis arithmetically (same recurrence as
    # multimodal_decode_wav) and derives the three waveform features with
    # a lag window over the per-sample CTE — peak / energy / zero
    # crossings are exactly checkable without an audio library.
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   {M.WAV_BASE_RATE} + (doc_id % 3) * {M.WAV_RATE_STEP}
                       AS sample_rate,
                   strlen(text) % {M.WAV_MAX_SAMPLES} + 8 AS n_samples,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s
            FROM documents WHERE doc_id < 100),
        sm AS (SELECT doc_id, sample_rate, n_samples,
                      (s * 257 + i.i * 9973) % 65536 - 32768 AS v, i.i
               FROM m, (SELECT unnest(range({M.WAV_MAX_SAMPLES} + 8)) AS i) i
               WHERE i.i < n_samples),
        lg AS (SELECT doc_id, sample_rate, n_samples, v,
                      lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
               FROM sm)
        SELECT doc_id,
               CAST(sample_rate AS BIGINT) AS sample_rate,
               CAST(n_samples AS BIGINT) AS n_samples,
               CAST(MAX(ABS(v)) AS BIGINT) AS peak_abs,
               CAST(SUM(v * v) AS BIGINT) AS sq_sum,
               CAST(SUM(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS zero_crossings
        FROM lg GROUP BY 1, 2, 3
    """,
    tags=("X5", "U2"),
)
def q_multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: waveform feature extraction on top of the REAL WAV decode —
    peak amplitude, energy, zero-crossing count per file (the exact-
    integer core of silence/voice-activity screening).  Decode and
    featurize happen in one Arrow batch pass (functions/multimodal.py:
    audio_stats); the oracle recomputes the synthesized PCM
    arithmetically, so the whole decode->feature path is hash-checked."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.audio_stats(M.with_wav_payload(docs))


@register(
    "multimodal_image_stats",
    # Oracle mirrors the PPM pixel synthesis ((s + g) % 256 cycling over
    # w*h*3 bytes): channel sums come from g % 3, min/max from the byte
    # domain, and the Rec.601 luma sum is LINEAR in the channel sums so it
    # derives exactly — the whole decode->feature path hash-checks without
    # an image library.
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   strlen(text) % {M.PPM_MAX_DIM} + 1 AS w,
                   doc_id % {M.PPM_MAX_DIM} + 1 AS h,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s
            FROM documents WHERE doc_id < 100),
        v AS (SELECT doc_id, w, h, g % 3 AS ch, (s + g) % 256 AS b
              FROM (SELECT doc_id, w, h, s, unnest(range(w * h * 3)) AS g
                    FROM m))
        SELECT doc_id,
               CAST(w * h AS BIGINT) AS n_pixels,
               CAST(SUM(CASE WHEN ch = 0 THEN b ELSE 0 END) AS BIGINT) AS r_sum,
               CAST(SUM(CASE WHEN ch = 1 THEN b ELSE 0 END) AS BIGINT) AS g_sum,
               CAST(SUM(CASE WHEN ch = 2 THEN b ELSE 0 END) AS BIGINT) AS b_sum,
               CAST(MIN(b) AS BIGINT) AS px_min,
               CAST(MAX(b) AS BIGINT) AS px_max,
               CAST(299 * SUM(CASE WHEN ch = 0 THEN b ELSE 0 END)
                    + 587 * SUM(CASE WHEN ch = 1 THEN b ELSE 0 END)
                    + 114 * SUM(CASE WHEN ch = 2 THEN b ELSE 0 END)
                    AS BIGINT) AS luma_sum_x1000
        FROM v GROUP BY doc_id, w, h
    """,
    tags=("X5", "U2"),
)
def q_multimodal_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: pixel feature extraction on top of the REAL PPM decode —
    per-channel sums, pixel range, and the Rec.601 luma sum in exact
    per-mille integers (the brightness/contrast screen of an image
    training pipeline).  Decode and featurize run in one Arrow batch pass
    (functions/multimodal.py:image_stats); the oracle recomputes the
    synthesized pixels arithmetically."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.image_stats(M.with_ppm_payload(docs))


@register(
    "multimodal_decode_jpeg_pixels",
    # Oracle recomputes the ENTIRE entropy-decode path arithmetically.
    # The fixture mixes coding class and chroma sampling by doc_id % 4
    # (0 -> baseline 4:4:4 gray, 1 -> baseline 4:2:0, 2 -> baseline
    # 4:2:2, 3 -> PROGRESSIVE SOF2 4:2:0); every plane is block-constant
    # with DC quant 8 and progressive is a lossless reordering of the
    # same coefficients, so huffman decode -> (scan accumulation) ->
    # dequantize -> IDCT -> upsample -> YCbCr->RGB lands on EXACT
    # integers in every mode: gray rows decode to
    # (s + 17*block) % 160 + 48 directly, color rows to
    # round-half-even(y + 1.402*(cr - 128)) with y the same block ramp
    # and cr constant per chroma macroblock (16x16 for 4:2:0 and
    # progressive, 16x8 for 4:2:2; round_even == numpy rint, and the
    # narrow chroma range keeps every channel clip-free).  pos_checksum
    # pins the decoded pixel ORDER — a transposed, block-shuffled, or
    # MCU-misinterleaved decode hash-fails, as would a progressive scan
    # accumulated into the wrong band or block raster.
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   strlen(text) % {M.JPEG_PX_MAX_DIM} + 1 AS w,
                   doc_id % {M.JPEG_PX_MAX_DIM} + 1 AS h,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s,
                   CAST(concat('0x', substr(md5(text), 3, 2)) AS BIGINT) AS s2,
                   CAST(concat('0x', substr(md5(text), 5, 2)) AS BIGINT) AS s3
            FROM documents WHERE doc_id < 100),
        geom AS (
            SELECT doc_id, w, h, s, s2, s3, g,
                   g // w AS py, g % w AS px_,
                   (g // w // 8) * ((w + 7) // 8) + (g % w) // 8 AS blk,
                   CASE doc_id % 4
                       WHEN 2 THEN (g // w // 8) * ((w + 15) // 16)
                                   + (g % w) // 16
                       ELSE (g // w // 16) * ((w + 15) // 16)
                            + (g % w) // 16
                   END AS mb
            FROM (SELECT *, unnest(range(w * h)) AS g FROM m)),
        px AS (
            SELECT doc_id, w, h, g,
                   CASE WHEN doc_id % 4 = 0
                        THEN (s + {M.JPEG_PX_BLOCK_STEP} * blk) % 160 + 48
                        ELSE CAST(round_even(
                                 ((s + {M.JPEG_PX_BLOCK_STEP} * blk)
                                  % 160 + 48)
                                 + 1.402 * (((s3 + 23 * mb) % 40 + 108)
                                            - 128.0), 0)
                             AS BIGINT)
                   END AS v
            FROM geom)
        SELECT doc_id,
               CAST(w AS BIGINT) AS width,
               CAST(h AS BIGINT) AS height,
               CAST(w * h AS BIGINT) AS n_pixels,
               CAST(SUM(v) AS BIGINT) AS px_sum,
               CAST(MIN(v) AS BIGINT) AS px_min,
               CAST(MAX(v) AS BIGINT) AS px_max,
               CAST(SUM((g + 1) * v) AS BIGINT) AS pos_checksum
        FROM px GROUP BY doc_id, w, h
    """,
    tags=("X5", "U2"),
)
def q_multimodal_decode_jpeg_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: baseline-JPEG ENTROPY decode to pixels — the compressed-media
    step that was the repo's last image stub through round 6; since r09
    the corpus MIXES samplings and scan modes (doc_id % 4: 4:4:4 gray,
    4:2:0, 4:2:2, progressive SOF2 4:2:0 — most real camera JPEGs are
    4:2:0).  The payload is a real
    JFIF stream written by the full forward path (chroma box-average
    downsample, DCT, quantize, canonical Huffman, T.81 A.2.3 MCU
    interleave, byte stuffing); the decoder (functions/jpeg.py) is
    table-driven from the stream's own DQT/DHT and runs huffman decode,
    dequantization, inverse zigzag, float IDCT, replication upsampling
    and BT.601 color conversion inside one Arrow mapInPandas pass.
    Per-row independent work: no shuffle, scales linearly with the
    corpus."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.jpeg_image_stats(M.with_jpeg_pixel_payload(docs))


@register(
    "multimodal_decode_flac_pcm",
    # Oracle recomputes the synthesized PCM arithmetically: interleaved
    # sample g is (md5_byte*257 + g*9973) % 65536 - 32768, so after the
    # REAL decode (frame sync, CRC-8/16, fixed+LPC prediction inversion,
    # Rice residuals, stereo decorrelation, STREAMINFO MD5 check) the
    # stats must land exactly — FLAC is lossless, so there is no epsilon
    # anywhere.  pos_checksum is position-weighted over the interleaved
    # stream: channel order AND sample order are pinned, not just the
    # value multiset.
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   strlen(text) % {M.FLAC_MAX_SAMPLES}
                       + {M.FLAC_MIN_SAMPLES} AS n,
                   doc_id % 2 + 1 AS ch,
                   {M.FLAC_RATE_BASE}
                       + (doc_id % 3) * {M.FLAC_RATE_STEP} AS rate,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s
            FROM documents WHERE doc_id < 100),
        v AS (SELECT doc_id, n, ch, rate, g,
                     (s * 257 + g * 9973) % 65536 - 32768 AS v
              FROM (SELECT doc_id, n, ch, rate, s,
                           unnest(range(n * ch)) AS g FROM m))
        SELECT doc_id,
               CAST(rate AS BIGINT) AS sample_rate,
               CAST(ch AS BIGINT) AS n_channels,
               CAST(n AS BIGINT) AS n_samples,
               CAST(SUM(v) AS BIGINT) AS sample_sum,
               CAST(MIN(v) AS BIGINT) AS sample_min,
               CAST(MAX(v) AS BIGINT) AS sample_max,
               CAST(SUM((g + 1) * v) AS BIGINT) AS pos_checksum
        FROM v GROUP BY doc_id, n, ch, rate
    """,
    tags=("X5", "U2"),
)
def q_multimodal_decode_flac_pcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: COMPRESSED audio decode to PCM — closes the audio half of the
    compressed-media boundary the way round 7's JPEG closed images
    (VERDICT r07 #1).  The payload is a real FLAC stream written by the
    from-spec pure-python encoder (functions/flac.py: Levinson-Durbin LPC
    + fixed predictors, Rice-partitioned residuals with escapes, all four
    stereo decorrelation modes cycling frame-over-frame, CRC-8/CRC-16,
    STREAMINFO MD5); the decoder inverts the whole stack inside one Arrow
    mapInPandas pass and VERIFIES every checksum before emitting stats.
    FLAC over MP3/Vorbis deliberately: their normative constant tables
    are not derivable offline (see functions/flac.py module doc) — an
    invented-table decoder would be a fake codec, not an honest one.
    Per-row independent work: no shuffle, linear in the corpus."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.flac_pcm_stats(M.with_flac_payload(docs))


_ADPCM_STEPS = "[" + ",".join(
    str(v) for v in __import__(
        "flinkexp_spark.functions.adpcm", fromlist=["STEP_TABLE"]
    ).STEP_TABLE
) + "]"

# shared closed forms (mirrored by multimodal.with_adpcm_payload)
_ADPCM_NIB = "(s + 13*b + 7*g) % 16"


@register(
    "multimodal_decode_adpcm_pcm",
    # The oracle REPLAYS THE ENTIRE DECODER inside DuckDB: a recursive
    # CTE steps the IMA state machine (step-table lookup, shift/add
    # vpdiff, +-32768 clamp, index adaptation with 0/88 rails) over the
    # same closed-form nibble stream the fixture packs into the WAV
    # payload — an independent-engine re-execution of the integer
    # recurrence, not a re-statement of the synthesis (the synthesized
    # artifact is the BITSTREAM; the samples only exist by decoding).
    # pos_checksum is position-weighted across block boundaries, pinning
    # block order, nibble order (low-first), and every state transition.
    oracle=f"""
        WITH RECURSIVE m AS (
            SELECT doc_id,
                   doc_id % 3 + 1 AS nb,
                   {M.ADPCM_RATE_BASE}
                       + (doc_id % 3) * {M.ADPCM_RATE_STEP} AS rate,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s,
                   CAST(concat('0x', substr(md5(text), 3, 2)) AS BIGINT) AS s2
            FROM documents WHERE doc_id < 100),
        blocks AS (
            SELECT doc_id, rate, s, b,
                   (s * 131 + b * 77) % 1024 - 512 AS pred0,
                   (s2 + 5 * b) % 30 AS idx0
            FROM (SELECT *, unnest(range(nb)) AS b FROM m)),
        chain AS (
            SELECT doc_id, rate, s, b, 0 AS g, pred0 AS pred, idx0 AS idx
            FROM blocks
            UNION ALL
            SELECT doc_id, rate, s, b, g + 1,
                   GREATEST(-32768, LEAST(32767,
                       CASE WHEN {_ADPCM_NIB} >= 8 THEN pred - vpdiff
                            ELSE pred + vpdiff END)),
                   LEAST(88, GREATEST(0, idx +
                       CASE WHEN {_ADPCM_NIB} % 8 < 4 THEN -1
                            ELSE ({_ADPCM_NIB} % 8 - 3) * 2 END))
            FROM (
                SELECT *,
                       (step >> 3)
                       + CASE WHEN {_ADPCM_NIB} % 8 >= 4
                              THEN step ELSE 0 END
                       + CASE WHEN {_ADPCM_NIB} % 4 >= 2
                              THEN step >> 1 ELSE 0 END
                       + CASE WHEN {_ADPCM_NIB} % 2 = 1
                              THEN step >> 2 ELSE 0 END AS vpdiff
                FROM (SELECT *, ({_ADPCM_STEPS})[idx + 1] AS step
                      FROM chain)
            )
            WHERE g < {(M.ADPCM_BLOCK_ALIGN - 4) * 2})
        SELECT doc_id,
               CAST(rate AS BIGINT) AS sample_rate,
               CAST(1 AS BIGINT) AS n_channels,
               CAST(COUNT(*) AS BIGINT) AS n_samples,
               CAST(SUM(pred) AS BIGINT) AS sample_sum,
               CAST(MIN(pred) AS BIGINT) AS sample_min,
               CAST(MAX(pred) AS BIGINT) AS sample_max,
               CAST(SUM((b * {(M.ADPCM_BLOCK_ALIGN - 4) * 2 + 1} + g + 1)
                        * pred) AS BIGINT) AS pos_checksum
        FROM chain GROUP BY doc_id, rate
    """,
    tags=("X5", "U2"),
)
def q_multimodal_decode_adpcm_pcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: LOSSY compressed-audio decode — IMA-ADPCM (WAV 0x0011) to
    PCM, the codec family whose normative data is small and derivable
    (89-entry ~1.1x step staircase), unlike MP3/Vorbis (see
    functions/adpcm.py).  The payload is a real WAV container (RIFF
    chunks, fmt/fact, per-block state headers, packed nibbles) and the
    decoder runs the full integer state machine inside one Arrow
    mapInPandas pass.  The DuckDB oracle re-executes the decoder as a
    recursive CTE — the strongest oracle shape in the X5 family: a
    second engine replays the DSP rather than checking a closed form.
    Per-row independent work: no shuffle, linear in the corpus."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.adpcm_pcm_stats(M.with_adpcm_payload(docs))


@register(
    "multimodal_decode_png_pixels",
    # Oracle recomputes the synthesized pixels arithmetically: sample
    # (x, y, c) is (s + 31x + 17y + 97c) % 256 — or the palette double
    # closed form for variant 2 — so after the REAL decode (chunk walk
    # with per-chunk CRC-32, DEFLATE inflate, Sub/Up/Average/Paeth
    # unfiltering, Adam7 pass scatter, PLTE expansion) the stats must
    # land exactly: PNG is lossless, no epsilon anywhere.  pos_checksum
    # is weighted by row-major (y*W + x)*C + c + 1, which pins scanline
    # order, channel order AND the interlace reorder (variant 3 is
    # Adam7: a pass scattered to the wrong lattice hash-fails).
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   strlen(text) AS len,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s
            FROM documents WHERE doc_id < 100),
        d AS (
            SELECT doc_id, s,
                   len % {M.PNG_DIM_MOD} + {M.PNG_DIM_MIN} AS w,
                   (len * 3 + doc_id) % {M.PNG_DIM_MOD}
                       + {M.PNG_DIM_MIN} AS h,
                   doc_id % 4 AS var,
                   CASE doc_id % 4 WHEN 0 THEN 1 WHEN 3 THEN 4
                        ELSE 3 END AS ch
            FROM m),
        py AS (SELECT *, unnest(range(h)) AS y FROM d),
        pyx AS (SELECT *, unnest(range(w)) AS x FROM py),
        px AS (
            SELECT doc_id, w, h, ch,
                   CASE WHEN var = 2
                        THEN (s * 3
                              + 37 * ((s + 7 * x + 13 * y)
                                      % {M.PNG_PAL_SIZE})
                              + 11 * c) % 256
                        ELSE (s + 31 * x + 17 * y + 97 * c) % 256
                   END AS v,
                   (y * w + x) * ch + c + 1 AS pos
            FROM (SELECT *, unnest(range(ch)) AS c FROM pyx))
        SELECT doc_id,
               CAST(w AS BIGINT) AS width,
               CAST(h AS BIGINT) AS height,
               CAST(ch AS BIGINT) AS n_channels,
               CAST(SUM(v) AS BIGINT) AS pix_sum,
               CAST(MIN(v) AS BIGINT) AS pix_min,
               CAST(MAX(v) AS BIGINT) AS pix_max,
               CAST(SUM(pos * v) AS BIGINT) AS pos_checksum
        FROM px GROUP BY doc_id, w, h, ch
    """,
    tags=("X5", "U2"),
)
def q_multimodal_decode_png_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: LOSSLESS image decode — PNG to pixels, the second-most-common
    image format in crawled corpora (functions/png.py, from-spec: chunk
    framing with CRC-32 verification, DEFLATE via stdlib zlib, all five
    scanline filters, Adam7 interlace, palette expansion).  doc_id % 4
    cycles grey / RGB / 16-entry palette / RGBA+Adam7, the filter seed
    rotates so every unfilter path runs, and every 5th doc splits IDAT
    across chunks — one 100-doc fixture exercises the whole decoder.
    Unlike JPEG (functions/jpeg.py) the decode is bit-exact, so the
    oracle needs no quantization mirroring: closed-form pixel synthesis
    on one side, full codec round-trip on the other.  Per-row
    independent work: no shuffle, linear in the corpus."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.png_image_stats(M.with_png_payload(docs))


@register(
    "multimodal_decode_gif_pixels",
    # Oracle recomputes the synthesized pixels arithmetically: RGB
    # sample (x, y, c) = (s*5 + 41*((s + 11x + 23y) % P) + 13c) % 256
    # with P = 16 + (doc_id % 3)*8 — so after the REAL decode
    # (container walk, extension skip, LZW table rebuilt from the
    # stream, 4-pass deinterlace, color-table expansion) the stats land
    # exactly; GIF is lossless.  palette_slots pins the power-of-two
    # color-table padding (P=24 stores 32 slots — reading the 8 pad
    # entries as pixels would hash-fail), and pos_checksum pins row,
    # channel and interlace order.
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   strlen(text) AS len,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s
            FROM documents WHERE doc_id < 100),
        d AS (
            SELECT doc_id, s,
                   len % {M.GIF_DIM_MOD} + {M.GIF_DIM_MIN} AS w,
                   (len * 5 + doc_id) % {M.GIF_DIM_MOD}
                       + {M.GIF_DIM_MIN} AS h,
                   {M.GIF_PAL_BASE} + (doc_id % 3) * {M.GIF_PAL_STEP} AS p
            FROM m),
        py AS (SELECT *, unnest(range(h)) AS y FROM d),
        pyx AS (SELECT *, unnest(range(w)) AS x FROM py),
        px AS (
            SELECT doc_id, w, h, p,
                   (s * 5 + 41 * ((s + 11 * x + 23 * y) % p) + 13 * c)
                       % 256 AS v,
                   (y * w + x) * 3 + c + 1 AS pos
            FROM (SELECT *, unnest(range(3)) AS c FROM pyx))
        SELECT doc_id,
               CAST(w AS BIGINT) AS width,
               CAST(h AS BIGINT) AS height,
               CAST(CASE WHEN p = 16 THEN 16 ELSE 32 END
                    AS BIGINT) AS palette_slots,
               CAST(SUM(v) AS BIGINT) AS pix_sum,
               CAST(MIN(v) AS BIGINT) AS pix_min,
               CAST(MAX(v) AS BIGINT) AS pix_max,
               CAST(SUM(pos * v) AS BIGINT) AS pos_checksum
        FROM px GROUP BY doc_id, w, h, p
    """,
    tags=("X5", "U2"),
)
def q_multimodal_decode_gif_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: LZW image decode — GIF to RGB pixels (functions/gif.py,
    from-spec: variable-width LZW with the code table rebuilt from the
    stream itself, sub-block framing, extension skipping, 4-pass
    interlace, global AND local color tables).  Completes the lossless
    image pair with PNG: between them the corpus-facing decoder family
    covers DEFLATE-filtered truecolor and LZW-paletted streams — the
    two compression families virtually all crawled lossless images use.
    doc_id cycles interlace x table-locality and a third of docs use a
    24-color table whose pad slots must not leak into pixels.  Per-row
    independent work: no shuffle, linear in the corpus."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.gif_image_stats(M.with_gif_payload(docs))


@register(
    "multimodal_decode_mjpeg_frames",
    # Oracle recomputes every pixel of every frame arithmetically:
    # frame f's gray plane is the block-constant ramp
    # (s + 97f + 17*block) % 160 + 48 with DC quant 8, so the LOSSY
    # JPEG round-trip is exact (same argument as the still-image
    # fixture: block-constant planes survive DCT/quant/IDCT bit-for-
    # bit).  pos_checksum is weighted by the GLOBAL position
    # f*W*H + g + 1, pinning frame order on top of pixel order — a
    # demux that swaps or drops frames hash-fails.
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   strlen(text) % {M.JPEG_PX_MAX_DIM} + 1 AS w,
                   doc_id % {M.JPEG_PX_MAX_DIM} + 1 AS h,
                   doc_id % {M.MJPEG_MAX_FRAMES}
                       + {M.MJPEG_MIN_FRAMES} AS nf,
                   {M.MJPEG_FPS_BASE}
                       + (doc_id % 3) * {M.MJPEG_FPS_STEP} AS fps,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s
            FROM documents WHERE doc_id < 100),
        fr AS (SELECT *, unnest(range(nf)) AS f FROM m),
        px AS (
            SELECT doc_id, nf, w, h, fps,
                   (s + {M.MJPEG_FRAME_SEED} * f
                    + {M.JPEG_PX_BLOCK_STEP}
                      * ((g // w // 8) * ((w + 7) // 8) + (g % w) // 8))
                       % 160 + 48 AS v,
                   f * w * h + g + 1 AS pos
            FROM (SELECT *, unnest(range(w * h)) AS g FROM fr))
        SELECT doc_id,
               CAST(nf AS BIGINT) AS n_frames,
               CAST(w AS BIGINT) AS width,
               CAST(h AS BIGINT) AS height,
               CAST(fps AS BIGINT) AS fps,
               CAST(SUM(v) AS BIGINT) AS px_sum,
               CAST(MIN(v) AS BIGINT) AS px_min,
               CAST(MAX(v) AS BIGINT) AS px_max,
               CAST(SUM(pos * v) AS BIGINT) AS pos_checksum
        FROM px GROUP BY doc_id, nf, w, h, fps
    """,
    tags=("X5", "U2"),
)
def q_multimodal_decode_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: REAL video decode — MJPG AVI to per-frame pixels.  The
    payload is a standard AVI written by functions/avi.py (RIFF lists,
    avih/strh/strf headers, word-aligned 00dc chunks, idx1 index) whose
    frames are complete baseline JFIF streams from the from-spec JPEG
    encoder; the decoder demuxes with full cross-checking (header
    geometry, frame counts avih==movi==idx1, every idx1 offset against
    the real chunk position, SOI/EOI magic) and entropy-decodes every
    frame inside one Arrow mapInPandas pass.  Motion-JPEG is the video
    format whose decode is honestly achievable offline — inter-frame
    codecs (h264) stay a documented boundary (multimodal.py:1203), same
    argument as MP3/Vorbis vs FLAC.  Per-row independent work: no
    shuffle, linear in the corpus."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.mjpeg_frame_stats(M.with_mjpeg_payload(docs))


@register(
    "multimodal_decode_g711_pcm",
    # The oracle REPLAYS THE ENTIRE DECODER inside DuckDB: G.711's
    # expansion is a per-byte closed form (sign|exp|mantissa after the
    # law's bit transform — µ-law ones'-complement, A-law XOR 0x55), so
    # plain SQL re-executes the segment formula over the same closed-form
    # code stream the fixture packs into the WAV payload — an
    # independent-engine re-execution of the companding math, not a
    # re-statement of the synthesis (the synthesized artifact is the
    # BITSTREAM; the samples only exist by decoding).  pos_checksum pins
    # byte order and every per-code expansion.
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS is_ulaw,
                   strlen(text) % {M.G711_N_MOD} + {M.G711_N_MIN} AS n,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s,
                   CAST(concat('0x', substr(md5(text), 3, 2)) AS BIGINT) AS s2
            FROM documents WHERE doc_id < 100),
        codes AS (
            SELECT doc_id, is_ulaw, n, i,
                   (s * 131 + s2 + 77 * i) % 256 AS b
            FROM (SELECT *, unnest(range(n)) AS i FROM m)),
        fields AS (
            SELECT doc_id, is_ulaw, n, i,
                   CASE WHEN is_ulaw = 0 THEN xor(b, 85)
                        ELSE 255 - b END AS t
            FROM codes),
        pcm AS (
            SELECT doc_id, is_ulaw, n, i,
                   CASE
                     WHEN is_ulaw = 1 THEN
                       -- µ-law: mag = man<<(e+3) + 132*(2^e - 1);
                       -- sign bit of the complemented byte set => negative
                       (CASE WHEN t >= 128 THEN -1 ELSE 1 END)
                       * ((t % 16) * (1 << ((t // 16) % 8 + 3))
                          + 132 * ((1 << ((t // 16) % 8)) - 1))
                     ELSE
                       -- A-law: seg-0 mag = man*16+8, else
                       -- (man*16+264)<<(e-1); set sign bit => positive
                       (CASE WHEN t >= 128 THEN 1 ELSE -1 END)
                       * (CASE WHEN (t // 16) % 8 = 0 THEN (t % 16) * 16 + 8
                               ELSE ((t % 16) * 16 + 264)
                                    * (1 << ((t // 16) % 8 - 1)) END)
                   END AS v
            FROM fields)
        SELECT doc_id,
               CAST(CASE WHEN is_ulaw = 1 THEN 7 ELSE 6 END
                    AS BIGINT) AS format_tag,
               CAST({M.G711_RATE} AS BIGINT) AS sample_rate,
               CAST(1 AS BIGINT) AS n_channels,
               CAST(n AS BIGINT) AS n_samples,
               CAST(SUM(v) AS BIGINT) AS sample_sum,
               CAST(MIN(v) AS BIGINT) AS sample_min,
               CAST(MAX(v) AS BIGINT) AS sample_max,
               CAST(SUM((i + 1) * v) AS BIGINT) AS pos_checksum
        FROM pcm GROUP BY doc_id, is_ulaw, n
    """,
    tags=("X5", "U2"),
)
def q_multimodal_decode_g711_pcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: telephony compressed-audio decode — G.711 A-law/µ-law (WAV
    0x0006/0x0007) to PCM, the companding standard whose 256-entry
    expansion tables are DERIVED from the published segment formula
    rather than transcribed (functions/g711.py module doc — same
    no-literal-tables bar as IMA-ADPCM, r09 verdict task #6).  Even
    doc_ids decode µ-law, odd A-law, so both laws' bit transforms
    (ones'-complement vs XOR 0x55) and both sign conventions are live in
    one query.  The payload is a real WAV container (RIFF chunks,
    fmt/fact/data) and the decoder expands every byte through the
    vectorized formula tables inside one Arrow mapInPandas pass.  The
    DuckDB oracle re-executes the expansion formula per byte in plain
    SQL — independent-engine replay of the companding math.  Per-row
    independent work: no shuffle, linear in the corpus."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.g711_pcm_stats(M.with_g711_payload(docs))


@register(
    "multimodal_decode_apng_frames",
    # The oracle REPLAYS THE COMPOSITING ENGINE as event algebra: a pixel
    # of rendered frame f shows the LATEST effective event at or before f —
    # a WRITE by frame g (visible later only if dispose(g)=NONE; OVER
    # writes with alpha 0 never happen) or a CLEAR between g and g+1 when
    # dispose(g)=BACKGROUND; dispose(g)=PREVIOUS simply ends g's write at
    # g.  Write wins a g-tie (it happens before the clear), encoded as
    # g_write > g_clear on the frame indices.  With binary fixture alphas
    # the recurrence is exact integer math — an independent-engine
    # re-execution of the renderer, not a re-statement of the synthesis
    # (the synthesized artifact is the CHUNK STREAM; the canvases only
    # exist by decoding and compositing).  pos_checksum pins frame,
    # scanline, channel order and the full dispose/blend history.
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   strlen(text) AS len,
                   doc_id % 3 + 2 AS n,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s,
                   CAST(concat('0x', substr(md5(text), 3, 2)) AS BIGINT) AS s2
            FROM documents WHERE doc_id < 100),
        d AS (
            SELECT doc_id, s, s2, n,
                   len % {M.APNG_DIM_MOD} + {M.APNG_DIM_MIN} AS w,
                   (len * 3 + doc_id) % {M.APNG_DIM_MOD}
                       + {M.APNG_DIM_MIN} AS h
            FROM m),
        pf AS (SELECT *, unnest(range(n)) AS f FROM d),
        py AS (SELECT *, unnest(range(h)) AS y FROM pf),
        pyx AS (SELECT *, unnest(range(w)) AS x FROM py),
        ev AS (
            SELECT doc_id, n, w, h, f, x, y, s,
                   MAX(CASE WHEN covers AND eff AND (g = f OR (s2 + g) % 3 = 0)
                            THEN g END) AS gw,
                   MAX(CASE WHEN covers AND (s2 + g) % 3 = 1 AND g < f
                            THEN g END) AS gc
            FROM (
                SELECT pyx.*, gg.g,
                       CASE WHEN gg.g = 0 THEN TRUE
                            ELSE x >= gg.g % 2 AND x < gg.g % 2 + w - 2
                             AND y >= (gg.g + 1) % 2
                             AND y < (gg.g + 1) % 2 + h - 2 END AS covers,
                       (gg.g = 0 OR (s + gg.g) % 2 = 0
                        OR (x + y + gg.g) % 3 <> 0) AS eff
                FROM pyx, (SELECT unnest(range(5)) AS g) gg
                WHERE gg.g <= f)
            GROUP BY ALL),
        px AS (
            SELECT doc_id, n, w, h, f, x, y, cc.c,
                   CASE WHEN gw IS NOT NULL AND (gc IS NULL OR gw > gc)
                        THEN CASE WHEN cc.c = 3 THEN 255
                                  ELSE (s + 31 * x + 17 * y + 97 * cc.c
                                        + 57 * gw) % 256 END
                        ELSE 0 END AS v,
                   ((f * h + y) * w + x) * 4 + cc.c + 1 AS pos
            FROM ev, (SELECT unnest(range(4)) AS c) cc)
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_frames,
               CAST(w AS BIGINT) AS width,
               CAST(h AS BIGINT) AS height,
               CAST(SUM(v) AS BIGINT) AS px_sum,
               CAST(MIN(v) AS BIGINT) AS px_min,
               CAST(MAX(v) AS BIGINT) AS px_max,
               CAST(SUM(pos * v) AS BIGINT) AS pos_checksum
        FROM px GROUP BY doc_id, n, w, h
    """,
    tags=("X5", "U2"),
)
def q_multimodal_decode_apng_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: REAL animation decode — APNG to composited canvases, the second
    video-ish codec after Motion-JPEG (r09 verdict #8 stretch).  Unlike
    MJPEG's independent frames, APNG rendering is STATEFUL: each output
    canvas depends on every prior frame's write and dispose
    (NONE/BACKGROUND/PREVIOUS) plus the blend op (SOURCE replaces, OVER
    alpha-composites; the fixture's binary alphas keep OVER exact-integer).
    The payload is a spec-correct APNG (acTL/fcTL/fdAT with shared
    sequence numbering, per-frame DEFLATE streams through the PNG filter
    engine, per-chunk CRCs) built and decoded by functions/apng.py; the
    DuckDB oracle replays the compositing algebra as a latest-event
    argmax.  Per-row independent work: no shuffle, linear in the corpus."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.apng_frame_stats(M.with_apng_payload(docs))


@register(
    "multimodal_decode_qoi_pixels",
    # The oracle RECOMPUTES THE PIXELS as window algebra: the fixture's
    # pixel chain is palette-jump + closed-form deltas, so value(i, ch) =
    # palette color at the LAST JUMP <= i plus the prefix sum of deltas
    # since — a last-jump MAX window for the group id, then a per-group
    # running SUM, mod 256.  The synthesized artifact is the BITSTREAM
    # (encode_qoi over those pixels); the pixel values only exist by
    # decoding the real QOI chunk stream — all SIX ops are live in the
    # corpus (RUN from repeat modes, DIFF/LUMA from the delta modes, RGB
    # from first palette visits, INDEX from revisits, RGBA from the
    # alpha-at-jump docs).  pos_checksum pins pixel AND channel order.
    oracle=f"""
        WITH m AS (
            SELECT doc_id, strlen(text) AS len,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s,
                   CAST(concat('0x', substr(md5(text), 3, 2)) AS BIGINT) AS s2
            FROM documents WHERE doc_id < 100),
        d AS (
            SELECT doc_id, s, s2,
                   len % {M.QOI_DIM_MOD} + {M.QOI_DIM_MIN} AS w,
                   (3 * len + doc_id) % {M.QOI_DIM_MOD}
                       + {M.QOI_DIM_MIN} AS h,
                   CASE WHEN doc_id % 4 = 0 THEN 4 ELSE 3 END AS nc
            FROM m),
        pi AS (SELECT *, unnest(range(w * h)) AS i FROM d),
        mo AS (SELECT *, (s + 13 * i + i * i) % 8 AS md FROM pi),
        g AS (SELECT *, MAX(CASE WHEN md >= 5 OR i = 0 THEN i END)
                        OVER (PARTITION BY doc_id ORDER BY i) AS grp
              FROM mo),
        pc AS (SELECT *, unnest(range(nc)) AS ch FROM g),
        dl AS (
            SELECT *,
                   CASE WHEN md >= 5 OR i = 0 OR ch = 3 THEN 0
                        WHEN md = 3 THEN
                          CASE ch WHEN 0 THEN (s + i) % 4 - 2
                                  WHEN 1 THEN (s2 + i) % 4 - 2
                                  ELSE i % 4 - 2 END
                        WHEN md = 4 THEN (s + 7 * i) % 64 - 32
                             + CASE ch WHEN 0 THEN i % 16 - 8
                                       WHEN 1 THEN 0
                                       ELSE (s2 + i) % 16 - 8 END
                        ELSE 0 END AS delta
            FROM pc),
        v AS (
            SELECT doc_id, w, h, nc, i, ch,
                   CASE WHEN ch = 3 THEN 200 + 10 * ((s2 + grp) % 4)
                        ELSE ((5 * s + 47 * ((s2 + grp) % 4) + 31 * ch
                              + SUM(delta) OVER (PARTITION BY doc_id, ch,
                                                 grp ORDER BY i))
                              % 256 + 256) % 256
                   END AS v
            FROM dl)
        SELECT doc_id,
               CAST(w AS BIGINT) AS width,
               CAST(h AS BIGINT) AS height,
               CAST(nc AS BIGINT) AS channels,
               CAST(w * h AS BIGINT) AS n_px,
               CAST(SUM(v) AS BIGINT) AS px_sum,
               CAST(MIN(v) AS BIGINT) AS px_min,
               CAST(MAX(v) AS BIGINT) AS px_max,
               CAST(SUM((i * nc + ch + 1) * v) AS BIGINT) AS pos_checksum
        FROM v GROUP BY doc_id, w, h, nc
    """,
    tags=("X5", "U2"),
)
def q_multimodal_decode_qoi_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: REAL image decode — QOI (Quite OK Image) to pixels, the
    byte-aligned LZ-adjacent format whose whole spec is one public page
    (functions/qoi.py module doc; nothing transcribed — the format has no
    tables at all).  Decoding is stateful per image: a 64-slot running
    hash index plus a previous-pixel register drive six chunk ops
    (RUN/INDEX/DIFF/LUMA/RGB/RGBA), and the fixture's palette-jump pixel
    chain makes every op live in the corpus — including RGBA via the
    alpha-at-jump docs (doc_id % 4 == 0).  The payload is a spec-correct
    QOI stream (magic, BE dims, end marker) built and decoded by
    functions/qoi.py inside one Arrow mapInPandas pass; the DuckDB oracle
    recomputes the pixels independently as last-jump window algebra.
    Per-row independent work: no shuffle, linear in the corpus."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.qoi_pixel_stats(M.with_qoi_payload(docs))


@register(
    "multimodal_decode_deflate",
    # Oracle recomputes the synthesized PLAINTEXT arithmetically: byte i
    # is (s + 3*(i % 64)) % 256 over n = len*7 + doc_id mod 3000 + 2000
    # bytes — so after the zlib decode (Adler-32 verified, stored/fixed/
    # dynamic blocks, overlapping LZ77 copies) the stats must land
    # exactly: DEFLATE is lossless, no epsilon anywhere.  pos_checksum is weighted
    # by the 1-based byte offset, pinning emit order across block
    # boundaries and copy resolution direction.
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   strlen(text) AS len,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s
            FROM documents WHERE doc_id < 100),
        d AS (
            SELECT doc_id, s,
                   (len * 7 + doc_id) % {M.DEFLATE_LEN_MOD}
                       + {M.DEFLATE_LEN_MIN} AS n
            FROM m),
        b AS (
            SELECT doc_id, n,
                   (s + 3 * (i % {M.DEFLATE_PERIOD})) % 256 AS v,
                   i + 1 AS pos
            FROM (SELECT *, unnest(range(n)) AS i FROM d))
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_bytes,
               CAST(SUM(v) AS BIGINT) AS byte_sum,
               CAST(MIN(v) AS BIGINT) AS byte_min,
               CAST(MAX(v) AS BIGINT) AS byte_max,
               CAST(SUM(pos * v) AS BIGINT) AS pos_checksum
        FROM b GROUP BY doc_id, n
    """,
    tags=("X5", "U2"),
)
def q_multimodal_decode_deflate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: zlib/DEFLATE decode through the strict stdlib wrapper
    (functions/inflate.py: one RFC 1950 stream, Adler-32 verified,
    nothing may follow it).  ``doc_id % 3`` cycles stored / dynamic /
    fixed-Huffman blocks (the fixed variant from zlib's ``Z_FIXED``
    strategy).  Per-row independent work: no shuffle, linear in the
    corpus."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.deflate_stats(M.with_deflate_payload(docs))


@register(
    "multimodal_decode_gzip",
    # Oracle recomputes the synthesized plaintext arithmetically (byte i =
    # (s*5 + 11*(i % 48)) % 256 over n = len*3 + doc_id mod 2000 + 1500
    # bytes); the engine's gzip decode (header flags incl. FNAME, CRC-32
    # and ISIZE verified, multi-member concatenation) must land the stats
    # exactly.  The multi-member
    # variant (doc_id % 3 == 2) splits the SAME plaintext across two
    # members, so one closed form covers all three container layouts.
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   strlen(text) AS len,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s
            FROM documents WHERE doc_id < 100),
        d AS (
            SELECT doc_id, s,
                   (len * 3 + doc_id) % {M.GZIP_LEN_MOD}
                       + {M.GZIP_LEN_MIN} AS n
            FROM m),
        b AS (
            SELECT doc_id, n,
                   (s * 5 + 11 * (i % {M.GZIP_PERIOD})) % 256 AS v,
                   i + 1 AS pos
            FROM (SELECT *, unnest(range(n)) AS i FROM d))
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_bytes,
               CAST(SUM(v) AS BIGINT) AS byte_sum,
               CAST(MIN(v) AS BIGINT) AS byte_min,
               CAST(MAX(v) AS BIGINT) AS byte_max,
               CAST(SUM(pos * v) AS BIGINT) AS pos_checksum
        FROM b GROUP BY doc_id, n
    """,
    tags=("X5", "U2"),
)
def q_multimodal_decode_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: gzip decode through the strict stdlib wrapper
    (functions/inflate.py over functions/drain.py: every member must end,
    CRC-32 and ISIZE are verified, only zero padding may follow the last
    member).  ``doc_id % 3`` cycles bare / FNAME-header / multi-member
    layouts.  Per-row independent work: no shuffle, linear in the
    corpus."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.gzip_stats(M.with_gzip_payload(docs))


@register(
    "multimodal_decode_bzip2",
    # Oracle recomputes the synthesized plaintext arithmetically (byte i =
    # (s*3 + 13*((i // 9) % 37)) % 256 over n = len*5 + doc_id mod 2500 +
    # 1800 bytes); the engine's bzip2 decode (block and combined CRC-32
    # verified) must land the stats exactly — bzip2 is lossless, no
    # epsilon anywhere.  The 9-byte value runs force the RLE1 stage on
    # every row; doc_id % 3 == 2 splits the SAME plaintext across two
    # byte-aligned concatenated streams, so one closed form covers all
    # three container layouts.
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   strlen(text) AS len,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s
            FROM documents WHERE doc_id < 100),
        d AS (
            SELECT doc_id, s,
                   (len * 5 + doc_id) % {M.BZIP2_LEN_MOD}
                       + {M.BZIP2_LEN_MIN} AS n
            FROM m),
        b AS (
            SELECT doc_id, n,
                   (s * 3 + 13 * ((i // {M.BZIP2_RUN})
                                  % {M.BZIP2_PERIOD})) % 256 AS v,
                   i + 1 AS pos
            FROM (SELECT *, unnest(range(n)) AS i FROM d))
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_bytes,
               CAST(SUM(v) AS BIGINT) AS byte_sum,
               CAST(MIN(v) AS BIGINT) AS byte_min,
               CAST(MAX(v) AS BIGINT) AS byte_max,
               CAST(SUM(pos * v) AS BIGINT) AS pos_checksum
        FROM b GROUP BY doc_id, n
    """,
    tags=("X5", "U2"),
)
def q_multimodal_decode_bzip2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: bzip2 decode through the strict stdlib wrapper
    (functions/bzip2.py over functions/drain.py: every stream must end,
    only zero padding may follow the last one).  bzip2 is the BWT + MTF
    + RLE + Huffman family next to DEFLATE's LZ77 + Huffman.  doc_id % 3
    cycles level-9 / level-1 / multi-stream container layouts.  Per-row
    independent work: no shuffle, linear in the corpus."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.bzip2_stats(M.with_bzip2_payload(docs))


@register(
    "multimodal_decode_tiff_lzw",
    # Oracle recomputes the synthesized image arithmetically: pixel (x,y)
    # = (s + 3x + 7y + (x*y)%5) % 256 over w = doc_id mod 40 + 24, h =
    # (len*3 + doc_id) mod 48 + 16 — after the REAL from-spec decode
    # (IFD walk in both byte orders, strip assembly, MSB-first
    # early-change LZW, Predictor-2 horizontal-differencing undo) the
    # stats must land exactly: LZW is lossless, no epsilon anywhere.
    # pos_checksum is weighted by the 1-based raster offset, pinning row
    # order across strip boundaries and the predictor cumsum direction.
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   strlen(text) AS len,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s
            FROM documents WHERE doc_id < 100),
        d AS (
            SELECT doc_id, s,
                   doc_id % {M.TIFF_W_MOD} + {M.TIFF_W_MIN} AS w,
                   (len * 3 + doc_id) % {M.TIFF_H_MOD} + {M.TIFF_H_MIN} AS h
            FROM m),
        px AS (
            SELECT doc_id, w, h, x, y,
                   (s + 3 * x + 7 * y + (x * y) % 5) % 256 AS v,
                   y * w + x + 1 AS pos
            FROM (SELECT *, unnest(range(h)) AS y FROM d),
                 LATERAL (SELECT unnest(range(w)) AS x))
        SELECT doc_id,
               CAST(w AS BIGINT) AS width,
               CAST(h AS BIGINT) AS height,
               CAST(w * h AS BIGINT) AS n_px,
               CAST(SUM(v) AS BIGINT) AS px_sum,
               CAST(MIN(v) AS BIGINT) AS px_min,
               CAST(MAX(v) AS BIGINT) AS px_max,
               CAST(SUM(pos * v) AS BIGINT) AS pos_checksum
        FROM px GROUP BY doc_id, w, h
    """,
    tags=("X5", "U2"),
)
def q_multimodal_decode_tiff_lzw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: from-spec TIFF 6.0 + LZW decode (functions/tiff.py) — the
    MSB-first, EARLY-CHANGE variant of LZW (width bumps one code before
    the table fills; table reset at code 4094) under the classic TIFF
    container: byte-order mark for both endiannesses, typed IFD entries
    with inline-vs-offset values, StripOffsets/StripByteCounts assembly,
    and Predictor-2 horizontal differencing undone as a row cumsum.
    Complements functions/gif.py, which implements the LSB-first
    late-change LZW — the two variants differ in bit order, width
    schedule, and reset protocol, and both are derived from their
    respective public specs.  No imaging library exists in this
    environment, so the fixture writer is also from-spec and BOTH
    directions are pinned to hand-derived spec-rule bit vectors in
    tests/test_tiff_lzw.py (code-by-code, including the KwKwK case).
    doc_id % 3 cycles LE-single-strip / LE-multi-strip-predictor2 /
    BE-multi-strip-predictor2.  Per-row independent work: no shuffle,
    linear in the corpus."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.tiff_stats(M.with_tiff_payload(docs))


@register(
    "multimodal_decode_zstd_frames",
    # Oracle recomputes the synthesized plaintext arithmetically (byte i =
    # (s*7 + 17*((i // 150) % 53)) % 256 over n = len*4 + doc_id mod 2200
    # + 1600 bytes); the engine's decode of single, skippable-prefixed and
    # concatenated frames must land the stats exactly.
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   strlen(text) AS len,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s
            FROM documents WHERE doc_id < 100),
        d AS (
            SELECT doc_id, s,
                   (len * 4 + doc_id) % {M.ZSTD_LEN_MOD}
                       + {M.ZSTD_LEN_MIN} AS n
            FROM m),
        b AS (
            SELECT doc_id, n,
                   (s * 7 + 17 * ((i // {M.ZSTD_RUN})
                                  % {M.ZSTD_PERIOD})) % 256 AS v,
                   i + 1 AS pos
            FROM (SELECT *, unnest(range(n)) AS i FROM d))
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_bytes,
               CAST(SUM(v) AS BIGINT) AS byte_sum,
               CAST(MIN(v) AS BIGINT) AS byte_min,
               CAST(MAX(v) AS BIGINT) AS byte_max,
               CAST(SUM(pos * v) AS BIGINT) AS pos_checksum
        FROM b GROUP BY doc_id, n
    """,
    tags=("X5", "U2"),
)
def q_multimodal_decode_zstd_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: Zstandard frames (RFC 8878) decoded by pyarrow's libzstd
    (functions/zstd.py) — the third modern compression family.  zstd has
    no stdlib module before Python 3.14, unlike DEFLATE, bzip2 and xz,
    which decode through stdlib ``zlib``, ``bz2`` and ``lzma``.  doc_id %
    3 cycles one frame / skippable metadata frame + frame / two
    concatenated frames, so frame routing and multi-frame concatenation
    are both on the hashed path; malformed payloads fail inside the task
    with a ``zstd:`` error.  tests/test_zstd.py round-trips the frames
    through the system ``zstd`` binary in both directions.  Per-row
    independent work: no shuffle, linear in the corpus."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.zstd_stats(M.with_zstd_payload(docs))


@register(
    "multimodal_decode_xz_frames",
    # Oracle recomputes the synthesized plaintext arithmetically (byte i =
    # (s*11 + 23*((i // 170) % 47)) % 256 over n = len*4 + doc_id mod 2400
    # + 1500 bytes); the engine's .xz decode (CRC-32/CRC-64/SHA-256/no
    # block checks, multi-stream with zero Stream Padding) must land the
    # stats exactly.
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   strlen(text) AS len,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s
            FROM documents WHERE doc_id < 100),
        d AS (
            SELECT doc_id, s,
                   (len * 4 + doc_id) % {M.XZ_LEN_MOD}
                       + {M.XZ_LEN_MIN} AS n
            FROM m),
        b AS (
            SELECT doc_id, n,
                   (s * 11 + 23 * ((i // {M.XZ_RUN})
                                   % {M.XZ_PERIOD})) % 256 AS v,
                   i + 1 AS pos
            FROM (SELECT *, unnest(range(n)) AS i FROM d))
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_bytes,
               CAST(SUM(v) AS BIGINT) AS byte_sum,
               CAST(MIN(v) AS BIGINT) AS byte_min,
               CAST(MAX(v) AS BIGINT) AS byte_max,
               CAST(SUM(pos * v) AS BIGINT) AS pos_checksum
        FROM b GROUP BY doc_id, n
    """,
    tags=("X5", "U2"),
)
def q_multimodal_decode_xz_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: .xz decode through the strict stdlib wrapper (functions/xz.py
    over functions/drain.py): concatenated streams, zero Stream Padding
    between or after them in 4-byte units, integrity checks of all four
    types.  ``lzma.decompress`` alone stops at the first padding and
    returns half of a padded two-stream row; the wrapper decodes every
    stream and rejects truncation, misaligned padding and trailing
    garbage.  doc_id % 4 cycles crc64 / crc32 / two-streams-padded-sha256
    / no-check layouts.  Per-row independent work: no shuffle, linear in
    the corpus."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.xz_stats(M.with_xz_payload(docs))


@register(
    "multimodal_decode_lzma2",
    # Same arithmetic-oracle construction as multimodal_decode_xz_frames,
    # but the payloads cycle LZMA2 encoder presets and a custom filter
    # chain: the decode must reproduce the plaintext byte-exactly for the
    # stats to land.
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   strlen(text) AS len,
                   CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS s
            FROM documents WHERE doc_id < 100),
        d AS (
            SELECT doc_id, s,
                   (len * 4 + doc_id) % {M.LZMA2_LEN_MOD}
                       + {M.LZMA2_LEN_MIN} AS n
            FROM m),
        b AS (
            SELECT doc_id, n,
                   (s * 11 + 23 * ((i // {M.XZ_RUN})
                                   % {M.XZ_PERIOD})) % 256 AS v,
                   i + 1 AS pos
            FROM (SELECT *, unnest(range(n)) AS i FROM d))
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_bytes,
               CAST(SUM(v) AS BIGINT) AS byte_sum,
               CAST(MIN(v) AS BIGINT) AS byte_min,
               CAST(MAX(v) AS BIGINT) AS byte_max,
               CAST(SUM(pos * v) AS BIGINT) AS pos_checksum
        FROM b GROUP BY doc_id, n
    """,
    tags=("X5", "U2"),
)
def q_multimodal_decode_lzma2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: compressed .xz payloads (range-coded LZMA2 chunks) decoded
    through the strict stdlib wrapper (functions/xz.py), cycling presets
    0/6/9e + a custom lc=0,lp=2,pb=1 filter chain and all four container
    check types via ``doc_id % 4``.  The DuckDB oracle recomputes the
    plaintext arithmetically, so the green hash certifies byte-exact
    decompression end-to-end.  Per-row independent Arrow mapInPandas: no
    shuffle, linear in the corpus."""
    docs = datasets.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return M.xz_stats(M.with_lzma2_payload(docs))
