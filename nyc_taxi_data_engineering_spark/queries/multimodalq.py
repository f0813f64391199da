"""Multimodal-column queries. Two payload models: ``attach_media``
(documents' UTF-8 bytes as opaque payloads — verifies the binary
column plumbing, mapInPandas 1:N fan-out, and feature batch shapes)
and ``attach_ppm_images`` (real binary PPM images built from the same
bytes — verifies ACTUAL decode and nearest-neighbor resize, pure
Python, no codec library). Every query has an exact DuckDB oracle
recomputing the arithmetic from the stored text bytes."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table_parallel as load_table
from nyc_taxi_data_engineering_spark.operators import multimodal as M
from nyc_taxi_data_engineering_spark.queries.registry import query


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.attach_media(load_table(spark, sf_dir, "documents"))


@query(
    "media_payload_stats",
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS payload_sha256,
       'fake/raw' AS format
FROM documents
""",
)
def q_media_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload integrity: byte length + sha256 computed on the
    Spark ``binary`` column must match the oracle hashing the same
    UTF-8 bytes — proves the payload column round-trips exactly."""
    return _media(spark, sf_dir).select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.sha2(F.col("payload"), 256).alias("payload_sha256"),
        F.col("meta.format").alias("format"),
    )


@query(
    "media_frame_counts",
    oracle="""
WITH m AS (
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           octet_length(encode(text)) % 8 + 1 AS n_frames,
           greatest(octet_length(encode(text)) // (octet_length(encode(text)) % 8 + 1), 1)
             AS fsize
    FROM documents
)
SELECT doc_id,
       ((n_frames + 1) // 2)::BIGINT AS n_frames_sampled,
       -- exact byte count of payload[f*size:(f+1)*size] per sampled
       -- frame: short payloads (n_bytes < n_frames, incl. 0) yield
       -- truncated/empty slices, so the frame is NOT always fsize
       list_sum([least(fsize, greatest(n_bytes - f * fsize, 0))
                 for f in generate_series(0, n_frames - 1, 2)])::BIGINT
         AS total_frame_bytes
FROM m
""",
)
def q_media_frame_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verifies the mapInPandas frame-sampling fan-out numerically:
    per doc, the number of sampled frames (every 2nd of n_frames) and
    their total bytes must equal the oracle's closed-form."""
    frames = M.sample_frames(_media(spark, sf_dir))
    return frames.groupBy("doc_id").agg(
        F.count("*").alias("n_frames_sampled"),
        F.sum(F.octet_length("frame_payload")).alias("total_frame_bytes"),
    )


@query(
    "media_features",
    oracle="""
WITH d2 AS (
    SELECT doc_id, hex(encode(text)) AS hx,
           octet_length(encode(text)) AS nb
    FROM documents
),
hist AS (
    -- bin = byte // 16 = the byte's FIRST hex digit; byte-exact for
    -- multi-byte UTF-8, where ord(char)//16 would bin the codepoint
    SELECT doc_id,
           ('0x' || substr(hx, 2 * CAST(g.i AS INTEGER) + 1, 1))::INT AS bin,
           COUNT(*) AS cnt
    FROM d2, UNNEST(generate_series(0, nb - 1)) AS g(i)
    GROUP BY doc_id, bin
),
ranked AS (
    SELECT doc_id, bin, cnt, MAX(cnt) OVER (PARTITION BY doc_id) AS max_cnt FROM hist
),
best AS (
    SELECT doc_id, MIN(bin) + 1 AS argmax_bin FROM ranked WHERE cnt = max_cnt GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
       CAST(16 AS INT) AS n_components,
       CAST(COALESCE(b.argmax_bin, 1) AS BIGINT) AS argmax_bin
FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id
""",
)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction. The byte-histogram extractor is
    deterministic, so the vector's shape and argmax are EXACTLY
    oracle-checkable: the oracle recomputes the 16-bin histogram of the
    payload bytes in SQL (byte-exact via the hex dump — UTF-8 safe) and
    takes the first max bin — matching array_position's first-match
    semantics on normalized counts (count ties normalize to equal
    floats; distinct counts stay distinct in float32 at any plausible
    doc length)."""
    feats = M.extract_features(_media(spark, sf_dir))
    return feats.select(
        "doc_id",
        "n_bytes",
        F.array_size("features").alias("n_components"),
        F.array_position("features", F.array_max("features")).alias("argmax_bin"),
    )


def _ppm_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.attach_ppm_images(load_table(spark, sf_dir, "documents"))


@query(
    "media_decoded_stats",
    oracle="""
WITH k AS (SELECT unnest(range(0, 192)) AS k),
d2 AS (SELECT doc_id, hex(encode(text)) AS hx,
              octet_length(encode(text)) AS nb
       FROM documents),
px AS (
    -- payload byte k = UTF-8 byte (k mod nb) of the text; empty text
    -- is the operator's single \\x00 fallback. Indexing the hex dump
    -- keeps this BYTE-exact for multi-byte UTF-8 (ord(char) is the
    -- codepoint, not the byte).
    SELECT d.doc_id, k.k % 3 AS ch,
           CASE WHEN d.nb = 0 THEN 0
                ELSE ('0x' || substr(d.hx, 2 * (k.k % d.nb) + 1, 2))::INT END AS b
    FROM d2 d CROSS JOIN k
)
SELECT doc_id,
       CAST(8 AS INT) AS width,
       CAST(8 AS INT) AS height,
       SUM(CASE WHEN ch = 0 THEN b END)::BIGINT AS r_sum,
       SUM(CASE WHEN ch = 1 THEN b END)::BIGINT AS g_sum,
       SUM(CASE WHEN ch = 2 THEN b END)::BIGINT AS b_sum
FROM px GROUP BY doc_id
""",
)
def q_media_decoded_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, no codec library: each doc becomes a valid
    8x8 binary PPM (pixel byte k = text byte k mod len), decoded by the
    pure-Python P6 parser inside mapInPandas. Integer per-channel pixel
    sums make the decode exactly oracle-checkable — the oracle
    recomputes every pixel byte from the text in SQL (documents are
    ASCII, so ord(char) == byte). Retires the round-4 decode stub."""
    return M.decoded_image_stats(_ppm_images(spark, sf_dir))


@query(
    "media_thumbnails",
    oracle="""
WITH yxc AS (
    SELECT y.y, x.x, c.c
    FROM (SELECT unnest(range(0, 4)) AS y) y
    CROSS JOIN (SELECT unnest(range(0, 4)) AS x) x
    CROSS JOIN (SELECT unnest(range(0, 3)) AS c) c
),
d2 AS (SELECT doc_id, hex(encode(text)) AS hx,
              octet_length(encode(text)) AS nb
       FROM documents),
px AS (
    -- source raster byte j = UTF-8 byte (j mod nb); byte-exact via the
    -- hex dump (see media_decoded_stats), \\x00 fallback on empty text
    SELECT d.doc_id, yxc.c AS ch,
           CASE WHEN d.nb = 0 THEN 0
                ELSE ('0x' || substr(d.hx,
                        2 * ((((2 * yxc.y) * 8 + 2 * yxc.x) * 3 + yxc.c) % d.nb) + 1,
                        2))::INT END AS b
    FROM d2 d CROSS JOIN yxc
)
SELECT doc_id,
       CAST(59 AS BIGINT) AS thumb_n_bytes,
       CAST(4 AS INT) AS width,
       CAST(4 AS INT) AS height,
       SUM(CASE WHEN ch = 0 THEN b END)::BIGINT AS r_sum,
       SUM(CASE WHEN ch = 1 THEN b END)::BIGINT AS g_sum,
       SUM(CASE WHEN ch = 2 THEN b END)::BIGINT AS b_sum
FROM px GROUP BY doc_id
""",
)
def q_media_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize round trip: 8x8 PPM → nearest-neighbor 4x4 →
    re-encoded PPM → decoded back. Thumbnail pixel (y, x) takes source
    pixel (2y, 2x), so the oracle recomputes each thumbnail byte in
    closed form from the text; thumb_n_bytes pins the re-encoded
    container size (11-byte 'P6\\n4 4\\n255\\n' header + 48 raster
    bytes). Retires the round-4 NotImplementedError resize stub."""
    return M.thumbnail_stats(_ppm_images(spark, sf_dir))


# -- image near-dup: dHash + Manku block pairs ------------------------------

DHASH_PLANT_N = 32  # doc_id < 32 get a perturbed twin...
DHASH_PLANT_MIN_CHARS = 192  # ...iff >= one full 8x8x3 raster of text bytes
DHASH_TWIN_OFFSET = 1_000_000
DHASH_MAX_HAMMING = 3

# The twin's text bumps ONE character (1-based position 11) to the next
# printable-ASCII codepoint, wrapping inside 0x20..0x7e so the byte
# width never changes. With >= 192 chars that byte paints exactly ONE
# pixel of the 8x8 image, so the twin's dHash differs in at most the 2
# comparison bits adjacent to that pixel's resampled column — always
# within the hamming<=3 gate, making the planted pairs a guaranteed
# recall floor for the block join.
_DHASH_TWIN_TEXT_SQL = (
    "substr(text, 1, 10) || chr(((ord(substr(text, 11, 1)) - 32 + 1) % 95) + 32)"
    " || substr(text, 12)"
)


def _docs_with_planted_twins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus the planted near-identical twins (one source byte
    bumped — _DHASH_TWIN_TEXT_SQL's Spark twin), shared by every
    modality-fingerprint query."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    twin_ch = F.expr("char(((ascii(substring(text, 11, 1)) - 32 + 1) % 95) + 32)")
    twins = (
        docs.filter(
            (F.col("doc_id") < DHASH_PLANT_N)
            & (F.length("text") >= DHASH_PLANT_MIN_CHARS)
        )
        .select(
            (F.col("doc_id") + DHASH_TWIN_OFFSET).alias("doc_id"),
            F.concat(
                F.substring("text", 1, 10), twin_ch, F.expr("substring(text, 12)")
            ).alias("text"),
        )
    )
    return docs.unionByName(twins)


# Reusable oracle fragments for the image-dHash family (the pair query
# and the cluster query share them verbatim).
_IMG_SRC_CTE = f"""src AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {DHASH_TWIN_OFFSET} AS doc_id, {_DHASH_TWIN_TEXT_SQL} AS text
    FROM documents
    WHERE doc_id < {DHASH_PLANT_N} AND length(text) >= {DHASH_PLANT_MIN_CHARS}
)"""


def _sql_byte(idx: str) -> str:
    """UTF-8 byte (``idx`` mod nb) of a srcb row's text, as INT — the
    operators index PAYLOAD BYTES, so the oracle must too (ord(char)
    is the codepoint, wrong for multi-byte UTF-8; the weird tier's
    long-unicode doc pins this). Empty text = the operators' single
    \\x00 fallback."""
    return (
        f"CASE WHEN s.nb = 0 THEN 0 "
        f"ELSE ('0x' || substr(s.hx, 2 * (({idx}) % s.nb) + 1, 2))::INT END"
    )


# hex dump of each src row, computed once and indexed byte-wise below
_SRCB_CTE = """srcb AS (
    SELECT doc_id, hex(encode(text)) AS hx,
           octet_length(encode(text)) AS nb
    FROM src
)"""

_IMG_HASH_CTES = f"""{_SRCB_CTE},
g AS (
    SELECT s.doc_id, y.y, x.x,
           ({_sql_byte('(y.y * 8 + x.x) * 3 + 0')}
          + {_sql_byte('(y.y * 8 + x.x) * 3 + 1')}
          + {_sql_byte('(y.y * 8 + x.x) * 3 + 2')}) AS gv
    FROM srcb s
    CROSS JOIN (SELECT unnest(range(0, 8)) AS y) y
    CROSS JOIN (SELECT unnest(range(0, 8)) AS x) x
),
bits AS (
    SELECT gl.doc_id, gl.y, x.x AS bx,
           CASE WHEN gl.gv < gr.gv THEN 1 ELSE 0 END AS bit
    FROM (SELECT unnest(range(0, 8)) AS x) x
    JOIN g gl ON gl.x = (x.x * 8) // 9
    JOIN g gr ON gr.doc_id = gl.doc_id AND gr.y = gl.y AND gr.x = ((x.x + 1) * 8) // 9
),
h AS (
    -- CAST back to BIGINT: DuckDB SUM(BIGINT) widens to HUGEINT, and a
    -- negative 128-bit dhash would carry 64 phantom leading one-bits
    -- into xor/bit_count (hamming 3 reads as 67)
    SELECT doc_id,
           CAST(SUM(CASE WHEN y * 8 + bx = 63
                    THEN CASE WHEN bit = 1 THEN -9223372036854775807 - 1 ELSE 0 END
                    ELSE bit::BIGINT << (y * 8 + bx) END) AS BIGINT) AS dhash
    FROM bits GROUP BY doc_id
)"""

_IMG_PAIR_SELECT = f"""SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       bit_count(xor(a.dhash, b.dhash))::INT AS hamming
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= {DHASH_MAX_HAMMING}"""


@query(
    "image_dhash_pairs",
    oracle=f"""
WITH {_IMG_SRC_CTE},
{_IMG_HASH_CTES}
{_IMG_PAIR_SELECT}
""",
)
def q_image_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate IMAGE pairs: every document's 8x8 PPM
    (plus a planted near-identical twin for small doc_ids — one source
    byte bumped, see _DHASH_TWIN_TEXT_SQL) is dHashed
    (operators/multimodal.dhash_images: decode → integer luminance →
    9x8 resample → 64 neighbor-comparison bits), then paired with the
    SAME Manku block-combination equi-join the text SimHash path uses
    (operators/dedup.simhash_neardup_pairs) — pigeonhole-exact at
    hamming<=3, no all-pairs scan. The oracle recomputes every hash
    bit from the text bytes in closed form and does the all-pairs
    compare, so the decode, the resample index map, the bit packing
    (including the sign bit), AND the block join's exactness are all
    under the hash gate. Extends the near-dup story to the multimodal
    column: at 100 TB the hash is an embarrassingly parallel
    mapInPandas scan and candidates are a keyed join."""
    from nyc_taxi_data_engineering_spark.operators.dedup import simhash_neardup_pairs

    images = M.attach_ppm_images(_docs_with_planted_twins(spark, sf_dir))
    dh = M.dhash_images(images)
    return simhash_neardup_pairs(
        dh.select("doc_id", F.col("dhash").alias("simhash")),
        max_hamming=DHASH_MAX_HAMMING,
    )


# -- audio modality: frame-windowed PCM features ----------------------------


@query(
    "audio_frame_features",
    oracle=f"""
WITH base AS (
    -- samples are UTF-8 BYTES (attach_audio's n_samples is
    -- octet_length): both the short-clip gate and the sample lookup
    -- must be byte-based, or multi-byte UTF-8 docs diverge
    SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
    FROM documents
    WHERE octet_length(encode(text)) >= {M.AUDIO_FRAME}
),
fr AS (
    SELECT doc_id, hx, f
    FROM base, unnest(generate_series(0, (n - {M.AUDIO_FRAME}) // {M.AUDIO_HOP})) AS t(f)
),
samp AS (
    SELECT doc_id, f, j,
           ('0x' || substr(hx, 2 * (f * {M.AUDIO_HOP} + j - 1) + 1, 2))::INT AS s
    FROM fr, unnest(generate_series(1, {M.AUDIO_FRAME})) AS u(j)
),
agg AS (
    SELECT doc_id, f, SUM(s) AS fsum, SUM(s * s) AS fsumsq
    FROM samp GROUP BY doc_id, f
),
zc AS (
    SELECT s1.doc_id, s1.f,
           SUM(CASE WHEN (s1.s * {M.AUDIO_FRAME} - a.fsum)
                       * (s2.s * {M.AUDIO_FRAME} - a.fsum) < 0
                    THEN 1 ELSE 0 END) AS zcount
    FROM samp s1
    JOIN samp s2 ON s2.doc_id = s1.doc_id AND s2.f = s1.f AND s2.j = s1.j + 1
    JOIN agg a ON a.doc_id = s1.doc_id AND a.f = s1.f
    GROUP BY s1.doc_id, s1.f
)
SELECT a.doc_id,
       CAST(a.f AS INT) AS frame_no,
       CAST(a.fsum AS BIGINT) AS frame_sum,
       CAST(a.fsumsq AS BIGINT) AS frame_sumsq,
       CAST(zc.zcount AS INT) AS zero_crossings
FROM agg a JOIN zc ON zc.doc_id = a.doc_id AND zc.f = a.f
""",
)
def q_audio_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO-modality plumbing, end-to-end under the gate: documents'
    bytes stand in for unsigned 8-bit PCM (attach_audio — the honest
    deterministic fake, the real decoder being a library gap), and
    audio_frame_features fans each clip into 50%-overlapping
    {M.AUDIO_FRAME}-sample frames with INTEGER-exact features: frame
    sum/sum-of-squares (energy) and the zero-crossing rate of the
    DC-removed signal (sign changes of s*frame - frame_sum — mean
    removal without a float). The oracle recomputes every sample from
    the stored text bytes, every frame boundary, and every crossing in
    SQL — the mapInPandas batch shape, the 1:N fan-out contract, and
    the windowing arithmetic all hash-checked. Clips shorter than one
    frame yield no rows in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return M.audio_frame_features(M.attach_audio(docs))


# -- video modality: temporal frame differencing ----------------------------


@query(
    "video_scene_cuts",
    oracle=f"""
WITH k AS (SELECT unnest(range(0, {M.VIDEO_FRAME_BYTES})) AS k),
fp AS (SELECT unnest(range(0, {M.VIDEO_FRAMES - 1})) AS p),
d2 AS (SELECT doc_id, hex(encode(text)) AS hx,
              octet_length(encode(text)) AS nb
       FROM documents),
b AS (
    -- frame byte = UTF-8 byte ((k + f*stride) mod nb), byte-exact via
    -- the hex dump (ord(char) is the codepoint, not the byte); empty
    -- text is the operator's single \\x00 fallback
    SELECT doc.doc_id, fp.p, k.k,
           CASE WHEN fp.p + 1 >= {M.VIDEO_CUT_FRAME} OR doc.nb = 0 THEN 0
                ELSE ('0x' || substr(doc.hx,
                        2 * ((k.k + (fp.p + 1) * {M.VIDEO_STRIDE}) % doc.nb) + 1,
                        2))::INT END AS nxt,
           CASE WHEN fp.p >= {M.VIDEO_CUT_FRAME} OR doc.nb = 0 THEN 0
                ELSE ('0x' || substr(doc.hx,
                        2 * ((k.k + fp.p * {M.VIDEO_STRIDE}) % doc.nb) + 1,
                        2))::INT END AS cur
    FROM d2 doc CROSS JOIN fp CROSS JOIN k
),
d AS (
    SELECT doc_id, p, SUM(ABS(nxt - cur)) AS l1 FROM b GROUP BY doc_id, p
),
tot AS (SELECT doc_id, SUM(l1) AS total FROM d GROUP BY doc_id)
SELECT d.doc_id,
       CAST(d.p AS INT) AS frame_pair,
       CAST(d.l1 AS BIGINT) AS l1_delta,
       (d.l1 * {M.VIDEO_FRAMES - 1} > 2 * tot.total) AS is_cut
FROM d JOIN tot USING (doc_id)
""",
)
def q_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO-modality temporal analysis, end-to-end under the gate:
    each doc becomes a {M.VIDEO_FRAMES}-frame raw clip (attach_video —
    fixed-size rasters back to back in ONE binary payload, frame f's
    byte k = text byte (k + f*{M.VIDEO_STRIDE}) mod len, frames >=
    {M.VIDEO_CUT_FRAME} black — a planted hard cut), and
    video_scene_cuts computes the shot-boundary heuristic: per
    consecutive frame pair the integer L1 pixel delta, flagged as a
    cut when it exceeds 2x the clip's own mean delta (adaptive
    threshold compared float-free: delta*n_pairs > 2*total). The
    oracle recomputes every frame byte, every delta, and every flag
    from the stored text in SQL — the multi-frame container layout,
    the 1:N fan-out, and the temporal differencing are all
    hash-checked. Completes the image/audio/video trio."""
    docs = load_table(spark, sf_dir, "documents")
    return M.video_scene_cuts(M.attach_video(docs))


# -- video modality: clip fingerprint near-dup ------------------------------


def _video_frame_pair_ctes() -> str:
    """Per pre-cut frame f: dhash CTE (the image pipeline's closed form
    shifted by the clip's per-frame byte offset f*stride) + the
    all-pairs hamming compare at the gate."""
    parts = [_SRCB_CTE]
    for f in range(M.VIDEO_CUT_FRAME):
        off = f * M.VIDEO_STRIDE
        parts.append(f"""
g{f} AS (
    SELECT s.doc_id, y.y, x.x,
           ({_sql_byte(f'(y.y * 8 + x.x) * 3 + 0 + {off}')}
          + {_sql_byte(f'(y.y * 8 + x.x) * 3 + 1 + {off}')}
          + {_sql_byte(f'(y.y * 8 + x.x) * 3 + 2 + {off}')}) AS gv
    FROM srcb s
    CROSS JOIN (SELECT unnest(range(0, 8)) AS y) y
    CROSS JOIN (SELECT unnest(range(0, 8)) AS x) x
),
bits{f} AS (
    SELECT gl.doc_id, gl.y, x.x AS bx,
           CASE WHEN gl.gv < gr.gv THEN 1 ELSE 0 END AS bit
    FROM (SELECT unnest(range(0, 8)) AS x) x
    JOIN g{f} gl ON gl.x = (x.x * 8) // 9
    JOIN g{f} gr ON gr.doc_id = gl.doc_id AND gr.y = gl.y AND gr.x = ((x.x + 1) * 8) // 9
),
h{f} AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN y * 8 + bx = 63
                    THEN CASE WHEN bit = 1 THEN -9223372036854775807 - 1 ELSE 0 END
                    ELSE bit::BIGINT << (y * 8 + bx) END) AS BIGINT) AS dhash
    FROM bits{f} GROUP BY doc_id
),
p{f} AS (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           bit_count(xor(a.dhash, b.dhash))::INT AS hamming
    FROM h{f} a JOIN h{f} b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.dhash, b.dhash)) <= {DHASH_MAX_HAMMING}
)""")
    return ",".join(parts)


_VIDEO_PAIR_UNION = " UNION ALL ".join(
    f"SELECT * FROM p{f}" for f in range(M.VIDEO_CUT_FRAME)
)


@query(
    "video_neardup_clips",
    oracle=f"""
WITH src AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {DHASH_TWIN_OFFSET} AS doc_id, {_DHASH_TWIN_TEXT_SQL} AS text
    FROM documents
    WHERE doc_id < {DHASH_PLANT_N} AND length(text) >= {DHASH_PLANT_MIN_CHARS}
),
{_video_frame_pair_ctes()}
SELECT a_id, b_id, CAST(MAX(hamming) AS INT) AS max_hamming
FROM ({_VIDEO_PAIR_UNION})
GROUP BY a_id, b_id
HAVING COUNT(*) = {M.VIDEO_CUT_FRAME}
""",
)
def q_video_neardup_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO fingerprint near-duplicates — frame-sampled dHash, the
    shape production content-ID systems use: every PRE-CUT frame of
    each clip (the black end slate is identical across the corpus and
    must not vote) is perceptually hashed with the image pipeline's
    exact dHash core, each frame index runs the SAME pigeonhole-exact
    Manku block join as text SimHash / image dHash, and two clips are
    near-dups only when EVERY pre-cut frame pair sits inside the
    hamming gate (per-frame candidates, conjunctive clip verdict).
    Planted twins (one source byte bumped — one pixel per frame)
    guarantee a recall floor. The oracle recomputes every frame's every
    hash bit in closed form and does the all-pairs compare per frame,
    so the frame slicing, the per-frame hashing, the block join's
    exactness, AND the all-frames conjunction are under the hash gate.
    At 100 TB: hashing is an embarrassingly parallel scan emitting
    {M.VIDEO_CUT_FRAME} rows per clip; candidates are keyed equi-joins
    per frame index; the conjunction is one hash agg."""
    from functools import reduce

    from nyc_taxi_data_engineering_spark.operators.dedup import simhash_neardup_pairs

    fh = M.video_frame_dhashes(M.attach_video(_docs_with_planted_twins(spark, sf_dir))).persist()
    per_frame = [
        simhash_neardup_pairs(
            fh.filter(F.col("frame") == f).select(
                "doc_id", F.col("dhash").alias("simhash")
            ),
            max_hamming=DHASH_MAX_HAMMING,
        )
        for f in range(M.VIDEO_CUT_FRAME)
    ]
    allp = reduce(lambda a, b: a.unionByName(b), per_frame)
    return (
        allp.groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("nf"), F.max("hamming").alias("max_hamming"))
        .filter(F.col("nf") == M.VIDEO_CUT_FRAME)
        .select("a_id", "b_id", F.col("max_hamming").cast("int").alias("max_hamming"))
    )


# -- audio modality: acoustic fingerprint near-dup --------------------------


@query(
    "audio_neardup_clips",
    oracle=f"""
WITH src AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {DHASH_TWIN_OFFSET} AS doc_id, {_DHASH_TWIN_TEXT_SQL} AS text
    FROM documents
    WHERE doc_id < {DHASH_PLANT_N} AND length(text) >= {DHASH_PLANT_MIN_CHARS}
),
{_SRCB_CTE},
blocks AS (
    -- PCM samples are UTF-8 BYTES: block size and every sample lookup
    -- are byte-based via the hex dump (char-based substr diverges on
    -- multi-byte UTF-8)
    SELECT s.doc_id, bb.b,
           SUM(CAST(('0x' || substr(s.hx,
                   2 * (bb.b * (s.nb // {M.AUDIO_FP_BLOCKS}) + i.i) + 1, 2))::INT AS BIGINT)
             * CAST(('0x' || substr(s.hx,
                   2 * (bb.b * (s.nb // {M.AUDIO_FP_BLOCKS}) + i.i) + 1, 2))::INT AS BIGINT)
           ) AS en
    FROM srcb s
    CROSS JOIN (SELECT unnest(range(0, {M.AUDIO_FP_BLOCKS})) AS b) bb
    JOIN (SELECT unnest(range(0, 256)) AS i) i
      ON i.i < s.nb // {M.AUDIO_FP_BLOCKS}
    WHERE s.nb >= {M.AUDIO_FP_BLOCKS}
    GROUP BY s.doc_id, bb.b
),
fp AS (
    SELECT a.doc_id,
           CAST(SUM(CASE WHEN a.en < n.en THEN CAST(1 AS BIGINT) << a.b
                         ELSE 0 END) AS BIGINT) AS fingerprint
    FROM blocks a JOIN blocks n ON n.doc_id = a.doc_id AND n.b = a.b + 1
    GROUP BY a.doc_id
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       bit_count(xor(a.fingerprint, b.fingerprint))::INT AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= {DHASH_MAX_HAMMING}
""",
)
def q_audio_neardup_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO fingerprint near-duplicates — the Haitsma-Kalker
    energy-delta family: each clip's whole signal collapses to a
    63-bit fingerprint (64 equal-width blocks, bit b set iff block
    energy b < b+1 — gain-shift-robust the way dHash's neighbor
    comparisons are brightness-robust), then the SAME pigeonhole-exact
    Manku block join pairs fingerprints within hamming <=
    {DHASH_MAX_HAMMING}. Planted one-byte twins perturb one block's
    energy, flipping at most its two adjacent comparison bits — the
    guaranteed recall floor. The oracle recomputes every block energy
    and every comparison bit from the text in closed form and does the
    all-pairs compare, so decode, blocking, bit packing, and the block
    join's exactness all sit under the hash gate. Completes
    fingerprint near-dup across the modality trio (image dHash, video
    frame dHash, audio energy-delta). Oracle's per-block inner range is
    bounded at 256 samples/block (docs up to 16k chars — the corpus
    max is ~600); the Spark side uses the true width, so a corpus
    break would surface as a parity failure, not silent skew."""
    from nyc_taxi_data_engineering_spark.operators.dedup import simhash_neardup_pairs

    fps = M.audio_fingerprints(M.attach_audio(_docs_with_planted_twins(spark, sf_dir)))
    return simhash_neardup_pairs(
        fps.select("doc_id", F.col("fingerprint").alias("simhash")),
        max_hamming=DHASH_MAX_HAMMING,
    )


# -- image near-dup clustering ---------------------------------------------


@query(
    "image_dedup_clusters",
    oracle=f"""
WITH RECURSIVE {_IMG_SRC_CTE},
{_IMG_HASH_CTES},
edges AS ({_IMG_PAIR_SELECT}),
sym AS (
    SELECT a_id AS s, b_id AS d FROM edges
    UNION SELECT b_id, a_id FROM edges
),
reach AS (
    SELECT doc_id AS s, doc_id AS d FROM src
    UNION
    SELECT r.s, y.d FROM reach r JOIN sym y ON r.d = y.s
),
comp AS (SELECT s AS doc_id, MIN(d) AS cluster_id FROM reach GROUP BY s),
csize AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT c.doc_id, c.cluster_id, s.cluster_size, c.doc_id = c.cluster_id AS is_canonical
FROM comp c JOIN csize s USING (cluster_id)
""",
)
def q_image_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-dup CLUSTERS — the full media-dedup pipeline: dHash →
    Manku block pairs → pointer-doubled connected components →
    cluster_id = min doc_id, canonical flag, cluster size. Every
    planted twin lands in its original's cluster (so every plant
    cluster has size >= 2); untouched images stay singletons. Reuses
    the text pipeline's iterative CC operator unchanged — media dedup
    is the same graph problem once fingerprints exist — and the oracle
    replays the pair CTEs plus a recursive-CTE reachability, so the
    clustering itself sits under the hash gate."""
    from nyc_taxi_data_engineering_spark.operators.dedup import (
        connected_components,
        simhash_neardup_pairs,
    )

    nodes = _docs_with_planted_twins(spark, sf_dir)
    dh = M.dhash_images(M.attach_ppm_images(nodes))
    edges = simhash_neardup_pairs(
        dh.select("doc_id", F.col("dhash").alias("simhash")),
        max_hamming=DHASH_MAX_HAMMING,
    ).select("a_id", "b_id")
    comp = connected_components(edges, nodes=nodes, node_col="doc_id")
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "component").select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        "cluster_size",
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


_HIST_COLS = ",\n       ".join(
    f"SUM(CASE WHEN b >= {i * 16} AND b < {(i + 1) * 16} THEN 1 ELSE 0 END)::BIGINT AS h{i}"
    for i in range(M.HIST_BINS)
)


@query(
    "media_byte_histogram_arrow",
    oracle=f"""
WITH d2 AS (SELECT doc_id, hex(encode(text)) AS hx,
                   octet_length(encode(text)) AS nb
            FROM documents),
bytes AS (
    -- byte-exact via the hex dump: substr-by-char diverges on
    -- multi-byte UTF-8, and generate_series(1, 0) would DROP
    -- zero-byte docs the engine still emits (all-zero histogram)
    SELECT d.doc_id, ('0x' || substr(d.hx, 2 * CAST(g.i AS INTEGER) + 1, 2))::INT AS b
    FROM d2 d, UNNEST(generate_series(0, d.nb - 1)) AS g(i)
)
SELECT d2.doc_id, CAST(d2.nb AS BIGINT) AS n_bytes,
       {_HIST_COLS}
FROM d2 LEFT JOIN bytes USING (doc_id)
GROUP BY d2.doc_id, d2.nb
""",
)
def q_media_byte_histogram_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInArrow execution surface under the gate: per-payload
    16-bin byte histograms computed on raw Arrow RecordBatches —
    zero pandas materialization, numpy counting on zero-copy buffer
    views — hash-matched against the oracle recomputing every byte's
    bin in SQL (byte-exact via the hex dump — UTF-8 safe). Beside the
    mapInPandas family this pins the third Python execution surface
    (row UDF < pandas UDF < Arrow-native) the engine exposes."""
    return M.byte_histogram_arrow(_media(spark, sf_dir))
