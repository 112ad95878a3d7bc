"""Unit tests for the X1-X5 extension operators beyond the oracle gate:
structural properties of dedup/similarity, multimodal stubs.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flinkexp_spark import datasets
from flinkexp_spark.functions import multimodal as M
from flinkexp_spark.functions import text as T
from flinkexp_spark.functions import vectors as V


def test_minhash_detects_planted_neardups(spark, sf_dir):
    """An exact duplicate must collide on every band; a near-dup on >=1."""
    docs = datasets.load(spark, sf_dir, "documents").limit(50)
    clone = docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    sig = T.minhash_signatures(docs.unionByName(clone))
    pairs = T.lsh_candidate_pairs(sig)
    hits = {
        (r.id_a, r.id_b)
        for r in pairs.filter(F.col("id_b") - F.col("id_a") == 1_000_000).collect()
    }
    n = docs.count()
    assert len(hits) == n, "every exact clone must be an LSH candidate"


def test_minhash_short_doc_gets_null_signature(spark):
    df = spark.createDataFrame(
        [(1, "only two"), (2, "one two three four")], "doc_id long, text string"
    )
    sig = {r.doc_id: r.mh_0 for r in T.minhash_signatures(df).collect()}
    assert sig[1] is None, "< k tokens -> no shingles -> NULL signature"
    assert sig[2] is not None


def test_simhash_identical_for_identical_text(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "completely different words here")],
        "doc_id long, text string",
    )
    rows = df.select(
        "doc_id", T.simhash_col(T.tokens(F.col("text"))).alias("s")
    ).collect()
    by_id = {r.doc_id: r.s for r in rows}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]


def test_fingerprint_is_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha")], "doc_id long, text string"
    )
    rows = df.select(
        "doc_id", T.fingerprint_col(T.tokens(F.col("text"))).alias("fp")
    ).collect()
    fps = {r.doc_id: r.fp for r in rows}
    assert fps[1] != fps[2], "rolling hash must depend on token order"


def test_cosine_self_similarity_is_one(spark, sf_dir):
    emb = datasets.load(spark, sf_dir, "embeddings").limit(10)
    rows = emb.select(
        F.round(V.cosine(F.col("embedding"), F.col("embedding")), 6).alias("c")
    ).collect()
    assert all(abs(r.c - 1.0) < 1e-6 for r in rows)


def test_lsh_bucket_is_stable_and_bounded(spark, sf_dir):
    emb = datasets.load(spark, sf_dir, "embeddings")
    b = emb.select(V.lsh_bucket(F.col("embedding")).alias("b"))
    mn, mx = b.agg(F.min("b"), F.max("b")).first()
    assert 0 <= mn and mx < 2**V.N_PLANES


def test_multimodal_stubs_raise(spark, sf_dir):
    docs = M.with_binary_payload(datasets.load(spark, sf_dir, "documents").limit(1))
    with pytest.raises(NotImplementedError):
        M.sample_frames(docs)
    # decode_image stopped being a stub in round 7 (functions/jpeg.py
    # decodes baseline JFIF for real); the honest environment boundary
    # remains for non-JPEG payloads and now surfaces at TASK time, since
    # the decode runs lazily inside mapInPandas.
    with pytest.raises(Exception, match="NotImplementedError|requires PIL"):
        M.decode_image(docs).collect()
    # decode_audio stopped being a stub in round 8 (functions/flac.py
    # decodes FLAC for real); the honest boundary remains for perceptual
    # codecs (MP3/Vorbis — normative spec tables unavailable offline) and
    # surfaces at TASK time like decode_image.
    with pytest.raises(Exception, match="NotImplementedError|perceptual"):
        M.decode_audio(docs).collect()


def test_wav_roundtrip_is_a_real_riff_container(spark, sf_dir):
    """The WAV seam must produce genuine RIFF/WAVE files and decode them
    back to the synthesized waveform (stdlib wave encoder <-> decoder)."""
    import hashlib
    import io
    import wave as wave_mod

    docs = datasets.load(spark, sf_dir, "documents").limit(5)
    payloads = M.with_wav_payload(docs).collect()
    assert payloads, "fixture produced no rows"
    for row in payloads:
        assert bytes(row.payload[:4]) == b"RIFF"
        assert bytes(row.payload[8:12]) == b"WAVE"
        with wave_mod.open(io.BytesIO(bytes(row.payload)), "rb") as w:
            assert w.getnchannels() == 1
            assert w.getsampwidth() == 2

    decoded = {r.doc_id: r for r in M.decode_wav(M.with_wav_payload(docs)).collect()}
    for d in docs.select("doc_id", "text").collect():
        n = len(d.text.encode("utf-8")) % M.WAV_MAX_SAMPLES + 8
        s = hashlib.md5(d.text.encode("utf-8")).digest()[0]
        row = decoded[d.doc_id]
        assert row.sample_rate == M.WAV_BASE_RATE + (d.doc_id % 3) * M.WAV_RATE_STEP
        assert row.n_samples == n
        assert row.amp_sum == sum(
            (s * 257 + i * 9973) % 65536 - 32768 for i in range(n)
        )


def test_y4m_roundtrip_is_a_real_stream(spark, sf_dir):
    """The Y4M seam must produce genuine YUV4MPEG2 streams and the sampler
    must demux exactly the every-Nth frames with correct plane sums."""
    import hashlib

    docs = datasets.load(spark, sf_dir, "documents").limit(5)
    payloads = M.with_y4m_payload(docs).collect()
    assert payloads, "fixture produced no rows"
    for row in payloads:
        p = bytes(row.payload)
        assert p.startswith(b"YUV4MPEG2 W")
        assert b" C444\n" in p[: p.index(b"\n") + 1]
        assert b"FRAME\n" in p

    sampled = M.sample_y4m_frames(M.with_y4m_payload(docs), every_n=2).collect()
    by_doc: dict = {}
    for r in sampled:
        by_doc.setdefault(r.doc_id, []).append(r)
    for d in docs.select("doc_id", "text").collect():
        w = len(d.text.encode("utf-8")) % M.Y4M_MAX_DIM + 2
        h = d.doc_id % M.Y4M_MAX_DIM + 2
        nf = d.doc_id % M.Y4M_MAX_FRAMES + 2
        s = hashlib.md5(d.text.encode("utf-8")).digest()[0]
        rows = sorted(by_doc[d.doc_id], key=lambda r: r.frame_idx)
        assert [r.frame_idx for r in rows] == list(range(0, nf, 2))
        for r in rows:
            assert (r.width, r.height, r.frame_bytes) == (w, h, w * h * 3)
            assert r.byte_sum == w * h * 3 * ((s + M.Y4M_FRAME_STEP * r.frame_idx) % 256)

    # every_n=1 keeps every frame
    all_frames = M.sample_y4m_frames(M.with_y4m_payload(docs), every_n=1).collect()
    n_expected = sum(
        d.doc_id % M.Y4M_MAX_FRAMES + 2 for d in docs.select("doc_id").collect()
    )
    assert len(all_frames) == n_expected


def test_y4m_sampler_rejects_malformed_streams(spark, sf_dir):
    """Corrupt containers must fail loudly, not produce silent garbage."""
    import pandas as pd
    import pytest as _pytest

    def run(payload: bytes):
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "payload": [payload]}),
            schema="doc_id long, payload binary",
        )
        return M.sample_y4m_frames(df, every_n=1).collect()

    with _pytest.raises(Exception, match="not a YUV4MPEG2"):
        run(b"RIFF1234\nFRAME\n")
    with _pytest.raises(Exception, match="unsupported colorspace"):
        run(b"YUV4MPEG2 W2 H2 C420jpeg\nFRAME\n" + b"\x00" * 6)
    with _pytest.raises(Exception, match="truncated frame"):
        run(b"YUV4MPEG2 W2 H2 C444\nFRAME\n" + b"\x00" * 5)


def test_jpeg_meta_parser_rejects_malformed_streams(spark, sf_dir):
    """Corrupt JPEG containers must fail loudly, not produce silent garbage;
    and the parser must handle real-JFIF variations the fixture doesn't
    emit (16-bit DQT tables, skipped unknown segments)."""
    import struct

    import pandas as pd
    import pytest as _pytest

    def run(payload: bytes):
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "payload": [payload]}),
            schema="doc_id long, payload binary",
        )
        return M.decode_jpeg_meta(df).collect()

    with _pytest.raises(Exception, match="missing SOI"):
        run(b"\x89PNG\r\n")
    with _pytest.raises(Exception, match="bad marker alignment"):
        run(b"\xff\xd8" + b"\x00\x00\x00\x00")
    with _pytest.raises(Exception, match="no SOF marker"):
        # SOI then straight to SOS: dimensions never declared
        run(b"\xff\xd8\xff\xda" + struct.pack(">HB", 12, 3) + b"\x00" * 9)

    # generality: 16-bit (pq=1) DQT + an APPn segment the fixture never
    # writes; the walker must skip/parse both
    seg = bytearray(b"\xff\xd8")
    seg += b"\xff\xee" + struct.pack(">H", 8) + b"Adobe!"  # APP14, skipped
    q16 = struct.pack(">64H", *range(1, 65))
    seg += b"\xff\xdb" + struct.pack(">H", 2 + 1 + 128) + b"\x10" + q16
    seg += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, 4, 6, 3)
    seg += bytes((1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0))
    seg += b"\xff\xd9"
    row = run(bytes(seg))[0]
    assert (row.width, row.height, row.precision, row.n_components) == (6, 4, 8, 3)
    assert row.dqt_sum == sum(range(1, 65))


def test_ogg_walker_rejects_malformed_streams(spark, sf_dir):
    """Corrupt Ogg containers must fail loudly, not produce silent garbage."""
    import struct

    import pandas as pd
    import pytest as _pytest

    def run(payload: bytes):
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "payload": [payload]}),
            schema="doc_id long, payload binary",
        )
        return M.decode_ogg_meta(df).collect()

    def page(htype: int, seq: int, body: bytes, serial: int = 7) -> bytes:
        return (
            b"OggS"
            + struct.pack("<BBqIIIB", 0, htype, len(body), serial, seq, 0, 1)
            + bytes([len(body)])
            + body
        )

    with _pytest.raises(Exception, match="bad Ogg capture"):
        run(b"RIFF" + b"\x00" * 30)
    with _pytest.raises(Exception, match="missing BOS"):
        run(page(0x00, 0, b"ab") + page(0x04, 1, b"cd"))
    with _pytest.raises(Exception, match="sequence gap"):
        run(page(0x02, 0, b"ab") + page(0x04, 2, b"cd"))
    with _pytest.raises(Exception, match="missing EOS"):
        run(page(0x02, 0, b"ab") + page(0x00, 1, b"cd"))
    with _pytest.raises(Exception, match="multiplexed"):
        run(page(0x02, 0, b"ab", serial=7) + page(0x04, 1, b"cd", serial=8))
    # well-formed two-page stream parses
    row = run(page(0x02, 0, b"ab") + page(0x04, 1, b"cde"))[0]
    assert (row.n_pages, row.n_body_bytes, row.serial) == (2, 5, 7)


def test_mp3_walker_rejects_malformed_streams(spark, sf_dir):
    """Bad sync / wrong layer / truncated MP3 frames must fail loudly; a
    hand-built 48 kHz frame (a rate the fixture never emits) must parse —
    the walker is table-driven, not fixture-shaped."""
    import pandas as pd
    import pytest as _pytest

    def run(payload: bytes):
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "payload": [payload]}),
            schema="doc_id long, payload binary",
        )
        return M.decode_mp3_meta(df).collect()

    with _pytest.raises(Exception, match="lost frame sync"):
        run(b"ID3\x04" + b"\x00" * 10)
    with _pytest.raises(Exception, match="not MPEG-1 Layer III"):
        run(b"\xff\xf3\x90\x00" + b"\x00" * 100)  # MPEG-2 sync
    with _pytest.raises(Exception, match="truncated frame"):
        run(b"\xff\xfb\x90\x00" + b"\x00" * 10)  # header says 417 bytes
    with _pytest.raises(Exception, match="no MP3 frames"):
        run(b"")
    # 96 kbps @ 48 kHz (bitrate idx 7, samplerate idx 1): 144*96000/48000
    # = 288-byte frame
    frame = b"\xff\xfb\x74\x00" + b"\x00" * 284
    row = run(frame)[0]
    assert (row.n_frames, row.bitrate_kbps, row.sample_rate) == (1, 96, 48000)
    assert row.duration_ms == 1152 * 1000 // 48000


def test_binary_payload_schema(spark, sf_dir):
    docs = M.with_binary_payload(datasets.load(spark, sf_dir, "documents").limit(5))
    schema = dict(docs.dtypes)
    assert schema["payload"] == "binary"
    assert schema["media_meta"].startswith("struct<mime:string,n_bytes:")


def test_ivf_recall_beats_floor(spark, sf_dir):
    """IVF (Lloyd-refined cells, R=2 boundary replication, nprobe=2 of 8)
    must recover >=80% of the exact top-10.

    (Measured 0.82 at sf0.01 / higher at sf0.001; without replication
    nprobe=2 measures 0.63, a random cell assignment ~R*nprobe/K = 0.5,
    and a broken candidate join near zero.)
    """
    from flinkexp_spark.registry import queries

    exact = {
        (r.query_id, r.match_id)
        for r in queries()["sim_search_topk"](spark, sf_dir).collect()
    }
    approx = {
        (r.query_id, r.match_id)
        for r in queries()["sim_search_ivf"](spark, sf_dir).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.8


def test_ivf_lloyd_reduces_quantization_error(spark, sf_dir):
    """The Lloyd rounds must strictly improve the coarse quantizer: mean
    cosine of each vector to its assigned centroid rises vs. the raw seed
    centroids (recall at fixed nprobe is data-bound, so THIS is the metric
    that proves the k-means works)."""
    from flinkexp_spark.catalog import llm_similarity as S

    emb = datasets.load(spark, sf_dir, "embeddings")
    seed = emb.filter(F.col("vec_id") < S.IVF_K).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").cast("array<double>").alias("centv"),
    )
    refined = S._ivf_centroids_df(spark, emb, sf_dir)

    def mean_assigned_cos(cent):
        return (
            S._ivf_assign_df(emb, cent)
            .filter(F.col("crnk") == 1)
            .agg(F.avg("cscore"))
            .first()[0]
        )

    assert mean_assigned_cos(refined) > mean_assigned_cos(seed)


def test_chunking_covers_every_token_with_overlap(spark, sf_dir):
    """Every token index lands in >=1 chunk; consecutive chunks overlap by
    CHUNK_OVERLAP except a short tail; chunk 0 always exists (empty docs
    included)."""
    from flinkexp_spark.catalog import llm_textprep as X
    from flinkexp_spark.registry import queries

    docs = datasets.load(spark, sf_dir, "documents").select(
        "doc_id", F.size(T.tokens(F.col("text"))).alias("n")
    )
    chunks = (
        queries()["chunk_documents"](spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.sum("n_tokens").alias("tok_incl_overlap"),
            F.max("chunk_id").alias("last_chunk"),
            F.count("*").alias("n_chunks"),
        )
    )
    joined = docs.join(chunks, "doc_id")
    # coverage: sum of chunk sizes >= n (overlap re-counts), and the last
    # chunk's start (last_chunk * STEP) is < n, so the tail is covered.
    bad = joined.filter(
        (F.col("tok_incl_overlap") < F.col("n"))
        | (F.col("last_chunk") * X.CHUNK_STEP >= F.greatest(F.col("n"), F.lit(1)))
        | (F.col("n_chunks") != F.col("last_chunk") + 1)
    )
    assert bad.count() == 0


def test_quantize_int8_bounds_and_roundtrip(spark, sf_dir):
    """Quantized values stay in [-127, 127] and reconstruction error is
    below half a quantization step on average."""
    from flinkexp_spark.registry import queries

    q = queries()["embed_quantize_int8"](spark, sf_dir)
    row = q.agg(
        F.max("q_max").alias("qmax"),
        F.min("q_min").alias("qmin"),
        F.max("mean_abs_err").alias("err"),
        F.min("scale_r").alias("smin"),
    ).collect()[0]
    assert row["qmax"] <= 127 and row["qmin"] >= -127
    assert row["smin"] > 0
    # mean |x - q*scale/127| <= (scale/127)/2 for max-abs quantization
    worst_step = q.select(
        F.max(F.col("mean_abs_err") / (F.col("scale_r") / 127.0)).alias("r")
    ).collect()[0]["r"]
    assert worst_step <= 0.5 + 1e-6


def test_adc_rerank_recall_vs_brute_force(spark, sf_dir):
    """int8 coarse + top-40 re-rank must recover nearly all true top-10
    neighbors (4x memory cut should cost almost no recall at this C)."""
    from flinkexp_spark.registry import queries

    qs = queries()
    brute = qs["sim_search_topk"](spark, sf_dir).collect()
    adc = qs["sim_search_adc_rerank"](spark, sf_dir).collect()
    truth = {}
    for r in brute:
        truth.setdefault(r.query_id, set()).add(r.match_id)
    got = {}
    for r in adc:
        got.setdefault(r.query_id, set()).add(r.match_id)
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    assert hits / total >= 0.9, f"ADC recall {hits}/{total}"


def test_ivf2_recall_beats_floor(spark, sf_dir):
    """Two-level IVF (G=3 super-groups, index AND queries descend 2
    groups, then the same R=2/nprobe=2 fine knobs) must recover >=70% of
    the exact top-10 — the measured group-wall price vs the flat index's
    0.82/0.85 (sf0.01/sf0.001 measure 0.735/0.72; the sqrt-K descent buys
    N*(G + 2K/G) instead of N*K).  A regression below the floor means the
    descent is losing groups it should probe, not ordinary noise."""
    from flinkexp_spark.registry import queries

    row = queries()["sim_search_recall_ivf2"](spark, sf_dir).collect()[0]
    assert row.recall_x1000 >= 700, (
        f"two-level IVF recall {row.recall_x1000}/1000 under the 0.70 floor"
    )


def test_pq_adc_recall_beats_floor(spark, sf_dir):
    """PQ-ADC (4x16-dim codebooks, 64x compression, integer ADC tables,
    C=120 exact rerank) must recover >=80% of the exact top-10 —
    measured 0.86/0.85 at sf0.001/sf0.01.  A drop below the floor means
    codebooks or the ADC table went wrong, not noise (the pipeline is
    fully deterministic)."""
    from flinkexp_spark.registry import queries

    row = queries()["sim_search_recall_pq"](spark, sf_dir).collect()[0]
    assert row.recall_x1000 >= 800, (
        f"PQ-ADC recall {row.recall_x1000}/1000 under the 0.80 floor"
    )


def test_ivfpq_recall_beats_floor(spark, sf_dir):
    """The combined IVF + PQ-ADC pipeline compounds both approximations
    (cell walls AND 4-byte code ranking); r08 sweep picked
    IVFPQ_NPROBE=3 / IVFPQ_COARSE_C=200 — measured 0.91/0.88 at
    sf0.001/sf0.01 — so the floor matches the flat-PQ contract: 0.85."""
    from flinkexp_spark.registry import queries

    row = queries()["sim_search_recall_ivfpq"](spark, sf_dir).collect()[0]
    assert row.recall_x1000 >= 850, (
        f"IVFPQ recall {row.recall_x1000}/1000 under the 0.85 floor"
    )


def test_scaled_ivf_k_agrees_with_unrolled_oracles_at_fixture_scale():
    """ADVICE r07 trip-wire, narrowed in r10: dedup_semantic's oracle now
    mirrors scaled_ivf_k via a COUNT(*) scalar subquery (green at sf1 with
    K=80), but the FIXED-K oracles (sim_search_ivf / ivf2 / ivfpq) still
    embed the literal IVF_K Lloyd chain while their Spark twins use the
    fixed-K quantizer.  Those stay valid only while every oracle/bench
    fixture holds scaled_ivf_k(n) == IVF_K; enforce that precondition
    loudly here — a silently grown embeddings fixture must fail THIS test,
    not hash-mismatch (or vacuously pass) in the driver gate."""
    import pyarrow.parquet as pq

    from flinkexp_spark.catalog.llm_similarity import IVF_K, scaled_ivf_k

    for sf in ("0.001", "0.01", "0.1"):
        path = f"/root/testdata/sf{sf}/embeddings.parquet"
        if not os.path.exists(path):
            continue
        n = pq.ParquetFile(path).metadata.num_rows
        assert scaled_ivf_k(n) == IVF_K, (
            f"sf{sf} embeddings fixture grew to {n} vectors: "
            f"scaled_ivf_k={scaled_ivf_k(n)} != oracle literal {IVF_K}; "
            "regenerate the unrolled oracle SQL before trusting hashes"
        )


def test_ivf_bucketed_recall_beats_085_floor(spark, sf_dir):
    """Disk-resident bucketed IVF must clear the r09 verdict's ≥0.85
    recall floor (measured 0.945 at sf0.001, 0.905 at sf0.01 with
    nprobe=3 of 8 cells and R=2 boundary replication)."""
    from flinkexp_spark.registry import queries

    row = queries()["sim_search_recall_ivf_bucketed"](spark, sf_dir).collect()[0]
    assert row.recall_x1000 >= 850, (
        f"bucketed IVF recall {row.recall_x1000}/1000 under the 0.85 floor"
    )


def test_graph_beam_recall_beats_090_floor(spark, sf_dir):
    """The kNN-graph beam search (relational NSW — the graph-ANN family
    member) must clear a ≥0.90 recall floor, above every other index's
    pin in this module (measured 0.990 / 0.995 / 0.955 at
    sf0.001/0.01/0.1 with deg=12, beam=64, hops=3 from a 1-cell seed)."""
    from flinkexp_spark.registry import queries

    row = queries()["sim_search_recall_graph"](spark, sf_dir).collect()[0]
    assert row.recall_x1000 >= 900, (
        f"graph-beam recall {row.recall_x1000}/1000 under the 0.90 floor"
    )


def test_ivf_bucketed_matches_flat_ivf_at_same_nprobe(spark, sf_dir):
    """The disk layout is a PHYSICAL property only: the bucketed search's
    (query, match) set must be exactly the flat IVF candidate pipeline's
    output at the same nprobe — any drift means the on-disk index and the
    logical quantizer disagree."""
    from flinkexp_spark.catalog import llm_similarity as S
    from flinkexp_spark.registry import queries

    got = {
        (r.query_id, r.match_id, r.score, r.rnk)
        for r in queries()["sim_search_ivf_bucketed"](spark, sf_dir).collect()
    }
    # rebuild the flat pipeline at IVFB_NPROBE (sim_search_ivf runs nprobe=2)
    from pyspark.sql import functions as F

    emb = datasets.load(spark, sf_dir, "embeddings")
    cent = S._ivf_centroids_df(spark, emb, sf_dir)
    aff = S._ivf_assign_df(emb, cent)
    cells = aff.filter(F.col("crnk") <= S.IVF_REPL).select(
        F.col("vec_id").alias("match_id"),
        F.col("embedding").alias("cv"),
        F.col("cent_id").alias("cell"),
    )
    probes = aff.filter(
        (F.col("vec_id") < S.N_QUERIES) & (F.col("crnk") <= S.IVFB_NPROBE)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("cent_id").alias("cell"),
    )
    from flinkexp_spark.functions import vectors as V

    flat = (
        probes.join(cells, "cell")
        .filter(F.col("query_id") != F.col("match_id"))
        .select(
            "query_id",
            "match_id",
            F.round(V.cosine(F.col("qv"), F.col("cv")), V.COS_DECIMALS).alias(
                "score"
            ),
        )
        .distinct()
    )
    want = {
        (r.query_id, r.match_id, r.score, r.rnk)
        for r in S._topk(flat).collect()
    }
    assert got == want
