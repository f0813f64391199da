"""Tests for the multimodal column plumbing: payload round-trip,
Arrow batch shapes, the 1:N frame fan-out, and the stub gates."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.operators import multimodal as M


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_payload_roundtrip_and_metadata(spark):
    media = M.attach_media(_docs(spark, ["hello world", "abc"]))
    # compare names/types only — lit-built structs are non-nullable
    assert [(f.name, f.dataType.simpleString()) for f in media.schema.fields] == [
        (f.name, f.dataType.simpleString()) for f in M.MEDIA_SCHEMA.fields
    ]
    rows = {r["doc_id"]: r for r in media.collect()}
    assert bytes(rows[0]["payload"]) == b"hello world"
    assert rows[0]["meta"]["n_bytes"] == 11
    assert rows[1]["meta"]["n_frames"] == 3 % 8 + 1


def test_feature_extraction_shape_and_determinism(spark):
    media = M.attach_media(_docs(spark, ["hello world", ""]))
    rows = {r["doc_id"]: r for r in M.extract_features(media).collect()}
    v = np.array(rows[0]["features"])
    assert v.shape == (M.FEATURE_BINS,) and abs(v.sum() - 1.0) < 1e-6
    assert rows[1]["features"] == [0.0] * M.FEATURE_BINS  # empty payload
    # deterministic: same payload, same vector
    again = {r["doc_id"]: r for r in M.extract_features(media).collect()}
    assert again[0]["features"] == rows[0]["features"]


def test_frame_sampling_fanout(spark):
    # payload of 12 bytes -> n_frames = 12 % 8 + 1 = 5, every=2 -> frames 0,2,4
    media = M.attach_media(_docs(spark, ["abcdefghijkl"]))
    frames = M.sample_frames(media).collect()
    assert [f["frame_no"] for f in frames] == [0, 2, 4]
    size = 12 // 5
    assert all(len(bytes(f["frame_payload"])) == size for f in frames)
    assert bytes(frames[1]["frame_payload"]) == b"abcdefghijkl"[2 * size : 3 * size]


def test_payload_hash_matches_python(spark):
    media = M.attach_media(_docs(spark, ["héllo ✓ unicode"]))
    got = media.select(F.sha2("payload", 256).alias("h")).collect()[0]["h"]
    assert got == hashlib.sha256("héllo ✓ unicode".encode()).hexdigest()


def test_ppm_encode_decode_roundtrip():
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)
    payload = M.encode_ppm(px)
    assert payload.startswith(b"P6\n3 5\n255\n")
    np.testing.assert_array_equal(M.decode_ppm(payload), px)
    # header variants a conforming reader must accept: comments + odd whitespace
    commented = b"P6\n# a comment\n3  5\t255\n" + px.tobytes()
    np.testing.assert_array_equal(M.decode_ppm(commented), px)


def test_ppm_decode_rejects_malformed():
    with pytest.raises(ValueError, match="not a P6"):
        M.decode_ppm(b"P3\n1 1\n255\n000")
    with pytest.raises(ValueError, match="truncated PPM header"):
        M.decode_ppm(b"P6\n3 5")
    with pytest.raises(ValueError, match="raster truncated"):
        M.decode_ppm(b"P6\n3 5\n255\nshort")
    with pytest.raises(ValueError, match="16-bit"):
        M.decode_ppm(b"P6\n1 1\n65535\n" + b"\x00" * 6)
    if not M.HAS_PIL:
        with pytest.raises(ValueError, match="unsupported image format"):
            M.decode_image(b"\x89PNG not decodable here")


def test_resize_nearest_neighbor_exact():
    # 4x4 image whose pixel (y, x) is value 16*y + x in all channels:
    # downsizing to 2x2 must pick source pixels (0,0),(0,2),(2,0),(2,2)
    base = (16 * np.arange(4)[:, None] + np.arange(4)[None, :]).astype(np.uint8)
    px = np.repeat(base[:, :, None], 3, axis=2)
    thumb = M.decode_ppm(M.resize(M.encode_ppm(px), 2, 2))
    np.testing.assert_array_equal(thumb[:, :, 0], np.array([[0, 2], [32, 34]], dtype=np.uint8))
    # upscale is index-replication, never interpolation (stays uint8-exact)
    up = M.decode_ppm(M.resize(M.encode_ppm(px), 8, 8))
    assert up.shape == (8, 8, 3)
    np.testing.assert_array_equal(up[::2, ::2], px)


def test_attach_ppm_images_byte_layout(spark):
    images = M.attach_ppm_images(_docs(spark, ["abc"]))
    payload = bytes(images.collect()[0]["payload"])
    px = M.decode_ppm(payload)
    assert px.shape == (M.PPM_HEIGHT, M.PPM_WIDTH, 3)
    want = (b"abc" * 64)[: 8 * 8 * 3]
    assert px.tobytes() == want


def test_dhash_brightness_shift_invariant_and_bit_semantics(spark):
    """dHash compares NEIGHBORING pixels, so a uniform brightness
    shift must not change the hash; and a hand-built gradient image
    pins the exact bit layout (bit y*8+x set iff left < right)."""
    # strictly increasing columns -> every comparison bit set except
    # the duplicated resampled col 0 (gray(0)==gray(0) is not <)
    base = np.tile((np.arange(8) * 10).astype(np.uint8), (8, 1))
    px = np.repeat(base[:, :, None], 3, axis=2)
    images = spark.createDataFrame(
        [(0, bytearray(M.encode_ppm(px))), (1, bytearray(M.encode_ppm((px + 50))))],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r["dhash"] for r in M.dhash_images(images).collect()}
    # per row: bits x=1..7 set, x=0 clear -> 0b11111110 = 0xfe per byte
    want = int.from_bytes(b"\xfe" * 8, "little", signed=True)
    assert got[0] == want
    assert got[1] == got[0]  # +50 on every pixel: comparisons unchanged


def test_image_dhash_pairs_finds_every_planted_twin(spark, sf_dir):
    """Every planted (doc, twin) pair is guaranteed hamming <= 2 (the
    bumped byte paints one pixel, touching at most 2 comparison bits),
    so the Manku block join must surface ALL of them — the recall
    floor for the image near-dup path."""
    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.queries import multimodalq as MQ

    eligible = {
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") < MQ.DHASH_PLANT_N)
            & (F.length("text") >= MQ.DHASH_PLANT_MIN_CHARS)
        )
        .select("doc_id")
        .collect()
    }
    assert eligible, "corpus has no eligible plant docs — test is vacuous"
    pairs = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in MQ.q_image_dhash_pairs(spark, sf_dir).collect()
    }
    for d in eligible:
        key = (d, d + MQ.DHASH_TWIN_OFFSET)
        assert key in pairs, f"planted twin pair {key} missed"
        assert pairs[key] <= 2


def test_video_payload_layout_and_planted_cut(spark):
    """attach_video's container layout (fixed-size frames back to back,
    frame f byte k = text byte (k+f*stride) mod len, frames >= the cut
    black) is pinned byte-for-byte, and video_scene_cuts must flag
    EXACTLY the planted boundary pair: scene-1 pairs have small drift
    deltas, scene-2 pairs are zero-motion, the cut pair dominates."""
    video = M.attach_video(_docs(spark, ["abcdefg" * 3]))
    row = video.collect()[0]
    payload = bytes(row["payload"])
    assert len(payload) == M.VIDEO_FRAMES * M.VIDEO_FRAME_BYTES
    raw = b"abcdefg" * 3
    L = len(raw)
    for f in (0, M.VIDEO_CUT_FRAME - 1):
        frame = payload[f * M.VIDEO_FRAME_BYTES : (f + 1) * M.VIDEO_FRAME_BYTES]
        want = bytes(raw[(k + f * M.VIDEO_STRIDE) % L] for k in range(M.VIDEO_FRAME_BYTES))
        assert frame == want
    for f in range(M.VIDEO_CUT_FRAME, M.VIDEO_FRAMES):
        frame = payload[f * M.VIDEO_FRAME_BYTES : (f + 1) * M.VIDEO_FRAME_BYTES]
        assert frame == b"\x00" * M.VIDEO_FRAME_BYTES

    cuts = M.video_scene_cuts(video).collect()
    assert len(cuts) == M.VIDEO_FRAMES - 1
    flagged = {r["frame_pair"] for r in cuts if r["is_cut"]}
    assert flagged == {M.VIDEO_CUT_FRAME - 1}
    by_pair = {r["frame_pair"]: r["l1_delta"] for r in cuts}
    for p in range(M.VIDEO_CUT_FRAME, M.VIDEO_FRAMES - 1):
        assert by_pair[p] == 0  # scene 2 is static black


def test_video_scene_cuts_uniform_text_no_flags(spark):
    """A clip whose text has period dividing the stride produces
    identical scene-1 frames: total delta collapses to the single cut
    pair, which still flags; an ALL-static degenerate (empty-ish text
    '\\x00'-filler vs black scene 2... not constructible here) aside,
    the adaptive threshold must never flag a zero-delta pair."""
    video = M.attach_video(_docs(spark, ["zzzzzzz"]))  # period 7 == stride
    cuts = M.video_scene_cuts(video).collect()
    by_pair = {r["frame_pair"]: (r["l1_delta"], r["is_cut"]) for r in cuts}
    # scene-1 pairs: identical frames, delta 0, never flagged
    for p in range(0, M.VIDEO_CUT_FRAME - 1):
        assert by_pair[p] == (0, False)
    # the planted boundary is the only nonzero delta -> flagged
    assert by_pair[M.VIDEO_CUT_FRAME - 1][1]


def test_corpus_text_is_ascii_the_byte_char_parity_precondition(sf_dir):
    """Every byte-level fake codec (attach_ppm_images/attach_audio/
    attach_video) reads text as UTF-8 BYTES while the SQL oracles read
    it as CHARACTERS (ord/substr) — identical only while the corpus is
    pure ASCII. Pin that precondition: if a future corpus breaks it,
    this fails with a clear message instead of a silent hash
    mismatch."""
    import duckdb

    bad = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet') "
        "WHERE length(text) <> octet_length(encode(text)) OR length(text) = 0"
    ).fetchone()[0]
    assert bad == 0, (
        f"{bad} documents are non-ASCII or empty — the multimodal "
        "byte/char oracles' parity precondition no longer holds"
    )


def test_video_neardup_clips_finds_every_planted_twin(spark, sf_dir):
    """Each planted (clip, twin) pair differs by ONE source byte, i.e.
    one pixel per pre-cut frame, so every frame pair is hamming <= 2
    and the conjunctive clip verdict must surface ALL of them — the
    recall floor for the video fingerprint path."""
    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.queries import multimodalq as MQ

    eligible = {
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") < MQ.DHASH_PLANT_N)
            & (F.length("text") >= MQ.DHASH_PLANT_MIN_CHARS)
        )
        .select("doc_id")
        .collect()
    }
    assert eligible, "corpus has no eligible plant docs — test is vacuous"
    pairs = {
        (r["a_id"], r["b_id"]): r["max_hamming"]
        for r in MQ.q_video_neardup_clips(spark, sf_dir).collect()
    }
    for d in eligible:
        key = (d, d + MQ.DHASH_TWIN_OFFSET)
        assert key in pairs, f"planted twin clip pair {key} missed"
        assert pairs[key] <= 2


def test_audio_neardup_clips_finds_every_planted_twin(spark, sf_dir):
    """The twin's one-byte bump perturbs one block energy, flipping at
    most that block's two adjacent comparison bits, so every planted
    pair is hamming <= 2 and the block join must surface all of them."""
    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.queries import multimodalq as MQ

    eligible = {
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") < MQ.DHASH_PLANT_N)
            & (F.length("text") >= MQ.DHASH_PLANT_MIN_CHARS)
        )
        .select("doc_id")
        .collect()
    }
    assert eligible, "corpus has no eligible plant docs — test is vacuous"
    pairs = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in MQ.q_audio_neardup_clips(spark, sf_dir).collect()
    }
    for d in eligible:
        key = (d, d + MQ.DHASH_TWIN_OFFSET)
        assert key in pairs, f"planted twin clip pair {key} missed"
        assert pairs[key] <= 2


def test_audio_fingerprint_gain_shift_robust(spark):
    """A uniform +1 shift on every sample changes every block energy
    but (for a monotone-energy profile) no neighbor comparison — the
    robustness property the energy-delta family exists for."""
    import numpy as np

    from nyc_taxi_data_engineering_spark.operators import multimodal as M

    base = bytes(
        bytearray(min(32 + (i // 64) * 2, 126) for i in range(64 * 64))
    )  # block energies strictly increase until the cap at block 47
    shifted = bytes(bytearray(b + 1 for b in base))
    audio = spark.createDataFrame(
        [(0, bytearray(base)), (1, bytearray(shifted))],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r["fingerprint"] for r in M.audio_fingerprints(audio).collect()}
    assert got[0] == got[1]
    # bits 0..46 set (strictly increasing), 47..62 clear (capped equal)
    assert got[0] == (1 << 47) - 1


def test_video_frame0_dhash_equals_image_dhash(spark):
    """Frame 0 of attach_video (offset 0*stride) is byte-for-byte the
    attach_ppm_images raster, so the two pipelines' dHashes must agree
    — the cross-modality consistency invariant."""
    docs = _docs(spark, ["the quick brown fox jumps over the lazy dog " * 8])
    img = {r["doc_id"]: r["dhash"] for r in M.dhash_images(M.attach_ppm_images(docs)).collect()}
    vid = {
        (r["doc_id"], r["frame"]): r["dhash"]
        for r in M.video_frame_dhashes(M.attach_video(docs)).collect()
    }
    assert vid[(0, 0)] == img[0]
    assert set(f for _, f in vid) == set(range(M.VIDEO_CUT_FRAME))


def test_image_dedup_clusters_plants_cluster_with_original(spark, sf_dir):
    """Every planted twin must land in its original's cluster (size >=
    2, cluster_id = the original's doc_id since it is the smaller)."""
    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.queries import multimodalq as MQ

    eligible = {
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") < MQ.DHASH_PLANT_N)
            & (F.length("text") >= MQ.DHASH_PLANT_MIN_CHARS)
        )
        .select("doc_id")
        .collect()
    }
    assert eligible
    rows = {r["doc_id"]: r for r in MQ.q_image_dedup_clusters(spark, sf_dir).collect()}
    for d in eligible:
        twin = rows[d + MQ.DHASH_TWIN_OFFSET]
        assert twin["cluster_id"] == rows[d]["cluster_id"]
        assert twin["cluster_size"] >= 2
        assert not twin["is_canonical"]
