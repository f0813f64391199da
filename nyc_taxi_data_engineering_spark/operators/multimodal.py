"""Multimodal column plumbing: image/audio/video as opaque ``binary``
payloads with typed metadata, processed by Arrow-batched pandas
iterators (``mapInPandas``) — the training-data-pipeline extension for
media corpora (BASELINE north star).

What's REAL here (and tested): the column model (payload + metadata
struct), the mapInPandas UDF signatures and batch shapes, the
one-row-to-many frame-sampling contract, deterministic feature
extraction over raw bytes, the partitioning story, and — since round
5 — an actual image codec: binary PPM (P6) encodes AND decodes in
pure Python (``encode_ppm``/``decode_ppm``), and ``resize`` does real
nearest-neighbor resampling end-to-end. Compressed formats (PNG/JPEG)
still require PIL when importable — that's a library gap, not a stub:
``decode_image`` raises rather than faking pixels for formats it
cannot honestly decode.

Scale notes: payloads stay opaque bytes end-to-end in the JVM until a
mapInPandas stage needs them — no base64 round-trips, no
collect-to-driver. mapInPandas streams Arrow record batches, so peak
executor memory is one batch of payloads, tunable via
``spark.sql.execution.arrow.maxRecordsPerBatch`` (set it small for
media: 10 MB payloads x 10k default batch rows would OOM any
executor). Feature extraction is embarrassingly parallel; keep
payload tables partitioned by content-hash prefix so media joins
co-locate without skew.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # real decoder path, absent in this container
    from PIL import Image  # type: ignore  # noqa: F401

    HAS_PIL = True
except Exception:  # pragma: no cover - environment dependent
    HAS_PIL = False

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType()),
                    T.StructField("n_bytes", T.LongType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_BINS = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("frame_payload", T.BinaryType()),
    ]
)


def attach_media(docs: DataFrame) -> DataFrame:
    """Deterministic fake media table: the document's UTF-8 bytes act
    as the opaque payload (stands in for image/audio bytes), with the
    typed metadata struct a real media table would carry. Native
    expressions only — the payload never leaves the JVM here."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("fake/raw").alias("format"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            (F.octet_length(payload) % 8 + 1).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def _byte_histogram(buf: bytes) -> np.ndarray:
    """STUB feature extractor (deterministic fake): normalized
    histogram of the payload's bytes. A real pipeline would decode and
    embed here; the Spark-side contract is identical."""
    arr = np.frombuffer(buf, dtype=np.uint8)
    if arr.size == 0:
        return np.zeros(FEATURE_BINS, dtype=np.float32)
    hist = np.bincount(arr >> int(8 - np.log2(FEATURE_BINS)), minlength=FEATURE_BINS)
    hist = hist.astype(np.float64)
    return (hist / hist.sum()).astype(np.float32)


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: Arrow-batched, one output row
    per input row, payload → float feature vector."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "features": pdf["payload"].map(_byte_histogram),
                }
            )

    return media.mapInPandas(run, schema=FEATURES_SCHEMA)


def sample_frames(media: DataFrame) -> DataFrame:
    """mapInPandas frame sampling: one input row fans out to
    ceil(n_frames / 2) frame rows (the 1:N contract a video
    pipeline needs). Frames here are deterministic byte slices of the
    payload — the stub for real frame extraction."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_nos, out_payloads = [], [], []
            for doc_id, payload, meta in zip(pdf["doc_id"], pdf["payload"], pdf["meta"]):
                n_frames = int(meta["n_frames"])
                size = max(len(payload) // max(n_frames, 1), 1)
                for frame_no in range(0, n_frames, 2):
                    out_ids.append(doc_id)
                    out_nos.append(frame_no)
                    out_payloads.append(bytes(payload[frame_no * size : (frame_no + 1) * size]))
            yield pd.DataFrame(
                {"doc_id": out_ids, "frame_no": out_nos, "frame_payload": out_payloads}
            )

    return media.mapInPandas(run, schema=FRAMES_SCHEMA)


PPM_WIDTH = 8
PPM_HEIGHT = 8

IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

DECODED_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("r_sum", T.LongType()),
        T.StructField("g_sum", T.LongType()),
        T.StructField("b_sum", T.LongType()),
    ]
)

THUMBNAIL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("thumb_n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("r_sum", T.LongType()),
        T.StructField("g_sum", T.LongType()),
        T.StructField("b_sum", T.LongType()),
    ]
)


def attach_ppm_images(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-format image table: each document becomes a
    PPM_WIDTH x PPM_HEIGHT binary PPM (P6) whose pixel byte k is byte
    (k mod len) of the doc's UTF-8 text — a closed form the SQL oracle
    can recompute per pixel. Unlike ``attach_media``'s opaque bytes,
    these payloads are valid images any PPM reader decodes."""

    n = PPM_WIDTH * PPM_HEIGHT * 3

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for text in pdf["text"]:
                raw = text.encode("utf-8") or b"\x00"
                reps = -(-n // len(raw))
                px = np.frombuffer((raw * reps)[:n], dtype=np.uint8).reshape(PPM_HEIGHT, PPM_WIDTH, 3)
                payloads.append(encode_ppm(px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.select("doc_id", "text").mapInPandas(run, schema=IMAGES_SCHEMA)


def decoded_image_stats(images: DataFrame) -> DataFrame:
    """mapInPandas over image payloads: REAL decode (pure-Python PPM
    parser) → per-channel integer pixel sums. Integer sums make the
    decode exactly oracle-checkable — no float tolerance needed."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            widths, heights, sums = [], [], []
            for payload in pdf["payload"]:
                px = decode_image(bytes(payload))
                widths.append(px.shape[1])
                heights.append(px.shape[0])
                sums.append(px.reshape(-1, 3).sum(axis=0, dtype=np.int64))
            sums_arr = np.asarray(sums, dtype=np.int64).reshape(-1, 3)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pd.Series(widths, dtype="int32"),
                    "height": pd.Series(heights, dtype="int32"),
                    "r_sum": sums_arr[:, 0],
                    "g_sum": sums_arr[:, 1],
                    "b_sum": sums_arr[:, 2],
                }
            )

    return images.mapInPandas(run, schema=DECODED_STATS_SCHEMA)


def thumbnail_stats(images: DataFrame) -> DataFrame:
    """mapInPandas thumbnail pipeline: decode → nearest-neighbor
    ``resize`` → re-encode as PPM → decode the thumbnail back and emit
    its container size + per-channel sums. Exercises the full
    decode/resize/encode round trip with an exact closed-form oracle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_bytes, sums = [], []
            for payload in pdf["payload"]:
                thumb = resize(bytes(payload), 4, 4)
                px = decode_ppm(thumb)
                n_bytes.append(len(thumb))
                sums.append(px.reshape(-1, 3).sum(axis=0, dtype=np.int64))
            sums_arr = np.asarray(sums, dtype=np.int64).reshape(-1, 3)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "thumb_n_bytes": pd.Series(n_bytes, dtype="int64"),
                    "width": pd.Series([4] * len(pdf), dtype="int32"),
                    "height": pd.Series([4] * len(pdf), dtype="int32"),
                    "r_sum": sums_arr[:, 0],
                    "g_sum": sums_arr[:, 1],
                    "b_sum": sums_arr[:, 2],
                }
            )

    return images.mapInPandas(run, schema=THUMBNAIL_SCHEMA)


DHASH_SIZE = 8  # 8x8 difference grid = 64-bit hash

DHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("dhash", T.LongType()),
    ]
)


def dhash_images(images: DataFrame) -> DataFrame:
    """64-bit perceptual difference hash (dHash) per image — the
    standard near-duplicate fingerprint for image corpora (Krawetz's
    dHash; same family as pHash): decode → integer channel-sum
    luminance (NOT the BT.601 float weights, so both engines stay in
    exact integer arithmetic) → nearest-neighbor resample to
    ``DHASH_SIZE x (DHASH_SIZE+1)`` with the same floor index map as
    :func:`resize` → bit (y, x) set iff gray(y, x) < gray(y, x+1).
    Neighboring-pixel *comparisons* make the hash robust to uniform
    brightness/contrast shifts, which byte hashes are not.

    Arrow-batched mapInPandas, one row out per row in, no shuffle —
    hashing a 100 TB image corpus is an embarrassingly parallel scan;
    the pair-finding that follows reuses the Manku block-combination
    equi-join (operators/dedup.simhash_neardup_pairs), so the near-dup
    story for IMAGES is the same keyed, pigeonhole-exact join the text
    path already scales on."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = [
                _dhash_int(decode_image(bytes(payload)))
                for payload in pdf["payload"]
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "dhash": pd.Series(hashes, dtype="int64")}
            )

    return images.mapInPandas(run, schema=DHASH_SCHEMA)


def _dhash_int(px: np.ndarray) -> int:
    """The dHash core over one HxWx3 raster, as a signed 64-bit int."""
    gray = px.sum(axis=2, dtype=np.int64)  # H x W, 0..765
    h_, w_ = gray.shape
    rows = (np.arange(DHASH_SIZE) * h_) // DHASH_SIZE
    cols = (np.arange(DHASH_SIZE + 1) * w_) // (DHASH_SIZE + 1)
    grid = gray[rows][:, cols]
    bits = (grid[:, :-1] < grid[:, 1:]).flatten()  # row-major, bit y*8+x
    val = 0
    for b, bit in enumerate(bits):
        if bit:
            val |= 1 << b
    if val >= 1 << 63:  # two's-complement into signed int64
        val -= 1 << 64
    return val


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Encode an HxWx3 uint8 array as a binary PPM (P6) image.

    PPM is uncompressed — header ``P6\\n{w} {h}\\n255\\n`` followed by
    raw interleaved RGB bytes — so encode/decode are exact, pure-Python,
    and byte-for-byte reproducible (the property the SQL oracles need)."""
    if pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError(f"expected HxWx3 pixel array, got shape {pixels.shape}")
    h, w = pixels.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.astype(np.uint8).tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Decode a binary PPM (P6) payload to an HxWx3 uint8 array.

    Pure-Python parser for the full P6 grammar: ``#`` comments and any
    whitespace between header tokens, maxval <= 255. Raises ValueError
    on malformed input rather than guessing."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3 and i < len(payload):
        c = payload[i : i + 1]
        if c == b"#":  # comment runs to end of line
            while i < len(payload) and payload[i : i + 1] not in (b"\n", b"\r"):
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(payload) and not payload[j : j + 1].isspace():
                j += 1
            tokens.append(payload[i:j])
            i = j
    if len(tokens) < 3:
        raise ValueError("truncated PPM header")
    w, h, maxval = (int(t) for t in tokens)
    if maxval > 255:
        raise ValueError(f"16-bit PPM (maxval={maxval}) not supported")
    i += 1  # single whitespace byte separates maxval from raster
    raster = payload[i : i + w * h * 3]
    if len(raster) != w * h * 3:
        raise ValueError(f"PPM raster truncated: want {w * h * 3} bytes, got {len(raster)}")
    return np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)


def decode_image(payload: bytes) -> np.ndarray:
    """Decode an image payload to an HxWx3 uint8 array.

    PPM (P6) decodes in pure Python — no codec library needed. Other
    formats (PNG/JPEG/...) fall through to PIL when importable, else
    raise: compressed codecs are genuinely out of scope without a
    library, and a silent fake would poison downstream features."""
    if payload.startswith(b"P6"):
        return decode_ppm(payload)
    if HAS_PIL:  # pragma: no cover - environment dependent
        import io

        from PIL import Image

        return np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))
    raise ValueError("unsupported image format (only PPM decodes without PIL)")


def resize(payload: bytes, width: int, height: int) -> bytes:
    """Nearest-neighbor image resize, pure Python end-to-end for PPM:
    decode → index-map resample → re-encode. Deterministic and exactly
    reproducible: destination pixel (y, x) takes source pixel
    (floor(y*H/h'), floor(x*W/w')) — the closed form the SQL oracle
    recomputes. PIL-decoded formats re-encode as PPM too (the one
    uncompressed container we can write without a codec)."""
    pixels = decode_image(payload)
    src_h, src_w = pixels.shape[:2]
    rows = (np.arange(height) * src_h) // height
    cols = (np.arange(width) * src_w) // width
    return encode_ppm(pixels[rows][:, cols])


AUDIO_FRAME = 128  # samples per analysis frame
AUDIO_HOP = 64  # hop between frame starts (50% overlap)

AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_samples", T.LongType()),
                ]
            ),
        ),
    ]
)

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("frame_sum", T.LongType()),
        T.StructField("frame_sumsq", T.LongType()),
        T.StructField("zero_crossings", T.IntegerType()),
    ]
)


def attach_audio(docs: DataFrame) -> DataFrame:
    """Deterministic fake audio table: the document's UTF-8 bytes act
    as unsigned 8-bit PCM samples (stands in for a real decoder), with
    the typed metadata struct an audio table carries. Native
    expressions only — payloads never leave the JVM here."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("pcm_u8/fake").alias("format"),
            F.lit(8000).alias("sample_rate"),
            F.octet_length(payload).cast("long").alias("n_samples"),
        ).alias("meta"),
    )


def audio_frame_features(audio: DataFrame) -> DataFrame:
    """Arrow-batched frame analysis over the PCM payload — the audio
    half of the multimodal column model: each row fans out to
    floor((n - frame) / hop) + 1 overlapping frames (``frame`` =
    AUDIO_FRAME, ``hop`` = AUDIO_HOP; n >= frame; short
    clips yield no frames), each with INTEGER-exact features so the
    SQL oracle replays every value from the stored bytes:

    - frame_sum / frame_sumsq: raw sample moments (energy),
    - zero_crossings: sign changes of the DC-removed signal, computed
      without floats by comparing ``s[i]*frame - frame_sum`` (the
      deviation from the frame MEAN scaled by ``frame``) — standard
      zero-crossing-rate with integer DC removal.

    At 100 TB: one mapInPandas scan, 1:N fan-out bounded by clip
    length / hop, no shuffle — features feed grouped aggs downstream."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nos, sums, sumsqs, zcs = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                s = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64)
                n = s.size
                if n < AUDIO_FRAME:
                    continue
                for f_no in range((n - AUDIO_FRAME) // AUDIO_HOP + 1):
                    w = s[f_no * AUDIO_HOP : f_no * AUDIO_HOP + AUDIO_FRAME]
                    tot = int(w.sum())
                    dev = w * AUDIO_FRAME - tot  # deviation from mean, x frame
                    zc = int(np.count_nonzero(dev[:-1] * dev[1:] < 0))
                    ids.append(doc_id)
                    nos.append(f_no)
                    sums.append(tot)
                    sumsqs.append(int((w * w).sum()))
                    zcs.append(zc)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_no": pd.Series(nos, dtype="int32"),
                    "frame_sum": pd.Series(sums, dtype="int64"),
                    "frame_sumsq": pd.Series(sumsqs, dtype="int64"),
                    "zero_crossings": pd.Series(zcs, dtype="int32"),
                }
            )

    return audio.mapInPandas(run, schema=AUDIO_FEATURES_SCHEMA)


VIDEO_FRAMES = 6  # frames per synthetic clip
VIDEO_FRAME_BYTES = PPM_WIDTH * PPM_HEIGHT * 3  # raw raster bytes per frame
VIDEO_STRIDE = 7  # per-frame byte offset of the synthetic clip
VIDEO_CUT_FRAME = 3  # frames >= this are scene 2 (hard cut to black)

VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                ]
            ),
        ),
    ]
)

SCENE_CUTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_pair", T.IntegerType()),
        T.StructField("l1_delta", T.LongType()),
        T.StructField("is_cut", T.BooleanType()),
    ]
)


def attach_video(docs: DataFrame) -> DataFrame:
    """Deterministic fake video table: frame f's raster byte k is text
    byte ((k + f*{stride}) mod len) — a closed form the SQL oracle can
    recompute per pixel — with a PLANTED SCENE CHANGE: frames >=
    VIDEO_CUT_FRAME are BLACK (a hard cut to no-signal — think end
    slate), so the clip is two maximally distinct scenes joined at one
    boundary: a correct detector must flag exactly that pair, and the
    zero-motion scene-2 pairs must NOT flag. Frames
    concatenate into ONE binary payload (the raw-video container
    model: fixed-size frames back to back)."""

    nb = VIDEO_FRAME_BYTES

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for text in pdf["text"]:
                raw = text.encode("utf-8") or b"\x00"
                L = len(raw)
                buf = bytearray()
                for f in range(VIDEO_FRAMES):
                    reps = -(-(nb + f * VIDEO_STRIDE) // L) + 1
                    ext = (raw * reps)
                    start = (f * VIDEO_STRIDE) % L
                    frame = np.frombuffer(bytes(ext[start : start + nb]), dtype=np.uint8)
                    if f >= VIDEO_CUT_FRAME:
                        frame = np.zeros_like(frame)  # scene 2: black
                    buf += frame.tobytes()
                payloads.append(bytes(buf))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    base = docs.select("doc_id", "text").mapInPandas(
        run, schema=T.StructType(
            [T.StructField("doc_id", T.LongType()), T.StructField("payload", T.BinaryType())]
        )
    )
    return base.select(
        "doc_id",
        "payload",
        F.struct(
            F.lit("rawvideo/fake").alias("format"),
            F.lit(PPM_WIDTH).alias("width"),
            F.lit(PPM_HEIGHT).alias("height"),
            F.lit(VIDEO_FRAMES).alias("n_frames"),
        ).alias("meta"),
    )


def video_scene_cuts(video: DataFrame) -> DataFrame:
    """Temporal video analysis — scene-cut detection over the frame
    sequence: per consecutive frame pair, the INTEGER L1 pixel delta,
    flagged as a cut when it exceeds twice the clip's own mean delta
    (adaptive threshold, compared float-free as
    ``delta * n_pairs > 2 * total_delta``). This is the standard
    shot-boundary heuristic; the decode is the honest deterministic
    fake (attach_video), the windowed differencing and adaptive
    thresholding are real. One mapInPandas scan, n_frames-1 rows out
    per clip, no shuffle."""

    nb = VIDEO_FRAME_BYTES

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, pairs, deltas, cuts = [], [], [], []
            for doc_id, payload, meta in zip(pdf["doc_id"], pdf["payload"], pdf["meta"]):
                nf = int(meta["n_frames"])
                arr = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64)
                frames = arr.reshape(nf, nb)
                d = np.abs(frames[1:] - frames[:-1]).sum(axis=1)
                total = int(d.sum())
                n_pairs = nf - 1
                for i, dv in enumerate(d):
                    ids.append(doc_id)
                    pairs.append(i)
                    deltas.append(int(dv))
                    cuts.append(bool(int(dv) * n_pairs > 2 * total))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_pair": pd.Series(pairs, dtype="int32"),
                    "l1_delta": pd.Series(deltas, dtype="int64"),
                    "is_cut": pd.Series(cuts, dtype="bool"),
                }
            )

    return video.mapInPandas(run, schema=SCENE_CUTS_SCHEMA)


FRAME_DHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame", T.IntegerType()),
        T.StructField("dhash", T.LongType()),
    ]
)


def video_frame_dhashes(video: DataFrame) -> DataFrame:
    """Per-frame perceptual hashes for video clips — the standard video
    fingerprint (frame-sampled dHash, the same family YouTube-style
    content-ID systems build on): each PRE-CUT frame of the clip
    (frames >= VIDEO_CUT_FRAME are the planted all-black end slate —
    identical across every clip, so hashing them would pair the whole
    corpus) is dHashed with the image pipeline's exact core
    (:func:`_dhash_int`). One Arrow-batched scan, n-pre-cut-frames rows
    out per clip, no shuffle."""
    nb = VIDEO_FRAME_BYTES

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, frames, hashes = [], [], []
            for doc_id, payload, meta in zip(pdf["doc_id"], pdf["payload"], pdf["meta"]):
                nf = min(int(meta["n_frames"]), VIDEO_CUT_FRAME)
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                for f in range(nf):
                    px = arr[f * nb : (f + 1) * nb].reshape(PPM_HEIGHT, PPM_WIDTH, 3)
                    ids.append(doc_id)
                    frames.append(f)
                    hashes.append(_dhash_int(px))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame": pd.Series(frames, dtype="int32"),
                    "dhash": pd.Series(hashes, dtype="int64"),
                }
            )

    return video.mapInPandas(run, schema=FRAME_DHASH_SCHEMA)


AUDIO_FP_BLOCKS = 64  # whole-clip energy profile -> 63 delta bits

AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fingerprint", T.LongType()),
    ]
)


def audio_fingerprints(audio: DataFrame) -> DataFrame:
    """63-bit acoustic fingerprint per clip — the Haitsma-Kalker
    energy-delta family: the clip is split into {AUDIO_FP_BLOCKS}
    equal-width blocks spanning the WHOLE signal (width = n_samples //
    {AUDIO_FP_BLOCKS}, tail remainder ignored; clips shorter than
    {AUDIO_FP_BLOCKS} samples emit no row), each block's integer energy
    is the sum of squared raw u8 samples, and bit b is set iff
    E(b) < E(b+1).  Comparisons of NEIGHBORING energies make the
    fingerprint robust to uniform gain shifts, exactly like dHash's
    neighboring-pixel comparisons; bits 0..62 keep the packed value
    positive (no sign-bit two's-complement case).  One Arrow-batched
    scan, no shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64)
                w = arr.size // AUDIO_FP_BLOCKS
                if w == 0:
                    continue
                en = (arr[: AUDIO_FP_BLOCKS * w].reshape(AUDIO_FP_BLOCKS, w) ** 2).sum(
                    axis=1
                )
                bits = en[:-1] < en[1:]
                val = 0
                for b, bit in enumerate(bits):
                    if bit:
                        val |= 1 << b
                ids.append(doc_id)
                fps.append(val)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "fingerprint": pd.Series(fps, dtype="int64"),
                }
            )

    return audio.mapInPandas(run, schema=AUDIO_FP_SCHEMA)


HIST_BINS = 16

_HIST_SCHEMA = (
    "doc_id bigint, n_bytes bigint, "
    + ", ".join(f"h{i} bigint" for i in range(HIST_BINS))
)


def byte_histogram_arrow(media: DataFrame) -> DataFrame:
    """``mapInArrow`` byte histogramming — the Arrow-NATIVE sibling of
    the mapInPandas operators above: the UDF receives raw
    ``pyarrow.RecordBatch`` objects (no pandas materialization at all —
    for binary-heavy rows the pandas object-dtype detour is the single
    biggest Python-side cost) and emits batches back. Per payload:
    byte count and a {HIST_BINS}-bin histogram of byte values
    (bin = byte >> 4), the content-type fingerprinting pass a media
    pipeline runs before routing to decoders. numpy does the counting
    on a zero-copy buffer view per row; output is one fixed-width
    batch per input batch."""
    import numpy as np
    import pyarrow as pa

    fields = [("doc_id", pa.int64()), ("n_bytes", pa.int64())] + [
        (f"h{i}", pa.int64()) for i in range(HIST_BINS)
    ]
    out_schema = pa.schema(fields)

    def run(batches):
        for batch in batches:
            doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
            payloads = batch.column("payload")
            n = len(batch)
            n_bytes = np.zeros(n, dtype=np.int64)
            hists = np.zeros((n, HIST_BINS), dtype=np.int64)
            for i in range(n):
                buf = payloads[i].as_buffer()
                arr = np.frombuffer(buf, dtype=np.uint8)
                n_bytes[i] = arr.size
                if arr.size:
                    hists[i] = np.bincount(arr >> 4, minlength=HIST_BINS)
            cols = [pa.array(doc_ids, pa.int64()), pa.array(n_bytes)]
            cols += [pa.array(hists[:, b]) for b in range(HIST_BINS)]
            yield pa.RecordBatch.from_arrays(cols, schema=out_schema)

    return media.select("doc_id", "payload").mapInArrow(run, schema=_HIST_SCHEMA)
