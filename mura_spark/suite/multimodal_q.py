"""Multimodal-column queries (north-star extension; no reference analog —
mura has no binary/media surface at all, /root/reference/src/planner).

The driver test data has no media table, so payloads are derived from the
``documents`` table: the UTF-8 bytes of ``text`` stand in for an encoded
media blob (documents are pure ASCII, so byte position == char position and
the byte-level feature arithmetic is renderable as ANSI SQL for the DuckDB
oracle). The *pipeline* under test is the real multimodal surface from
``mura_spark.multimodal``: binary + metadata-struct column convention,
Arrow-batched ``mapInPandas`` feature extraction, and the JVM-side
frame-sampling plan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mura_spark.multimodal import binary_ops as MM
from mura_spark.suite.common import registry, table

SPARK_QUERIES, ORACLE_SQL, q = registry()


def _null_int():
    return F.lit(None).cast("int")


#: byte-bucket fractions (high nibble 2/6/7) — the SQL rendering of the
#: stub decode kernel's 16-bucket byte histogram at the checked indices.
def _sql_bucket_frac(lo: str, hi: str) -> str:
    return (f"CAST(length(text) - length(regexp_replace(text,"
            f" '[\\x{lo}-\\x{hi}]', '', 'g')) AS DOUBLE)"
            f" / CAST(strlen(text) AS DOUBLE)")


@q("mm_feature_extract",
   "SELECT doc_id, 'text' AS modality, "
   "CAST(strlen(text) AS BIGINT) AS n_bytes, "
   f"{_sql_bucket_frac('20', '2f')} AS f2, "
   f"{_sql_bucket_frac('60', '6f')} AS f6, "
   f"{_sql_bucket_frac('70', '7f')} AS f7 "
   "FROM documents")
def mm_feature_extract(spark, sf):
    """documents.text → binary payload + meta struct → mapInPandas feature
    extraction (Arrow batches) → three histogram buckets as scalars."""
    d = table(spark, sf, "documents")
    payload = d.select(
        F.col("doc_id").alias("id"),
        F.col("text").cast("binary").alias("content"),
        F.struct(
            F.lit("text").alias("modality"),
            F.lit("text/plain").alias("mime"),
            _null_int().alias("width"), _null_int().alias("height"),
            _null_int().alias("sample_rate"), _null_int().alias("n_frames"),
        ).alias("content_meta"))
    feats = MM.extract_features(payload)
    return feats.select(
        F.col("id").alias("doc_id"), "modality", "n_bytes",
        F.element_at("features", 3).alias("f2"),
        F.element_at("features", 7).alias("f6"),
        F.element_at("features", 8).alias("f7"))


@q("mm_resize",
   "SELECT doc_id, 32 AS out_w, 32 AS out_h, "
   "CAST(CASE WHEN strlen(text) <= 1024 THEN strlen(text) "
   "ELSE (strlen(text) + ((strlen(text) + 1023) // 1024) - 1) "
   "     // ((strlen(text) + 1023) // 1024) END AS BIGINT) AS n_bytes_out "
   "FROM documents")
def mm_resize(spark, sf):
    """Resize plumbing over the stub kernel: payload subsampled to ≤ 32×32
    bytes with stride ceil(n/1024); the oracle renders the identical
    integer arithmetic (output length = ceil(n / stride)); metadata struct
    carries the new dimensions out."""
    d = table(spark, sf, "documents")
    payload = d.select(
        F.col("doc_id").alias("id"),
        F.col("text").cast("binary").alias("content"),
        F.struct(
            F.lit("image").alias("modality"), F.lit("image/raw").alias("mime"),
            _null_int().alias("width"), _null_int().alias("height"),
            _null_int().alias("sample_rate"), _null_int().alias("n_frames"),
        ).alias("content_meta"))
    resized = MM.resize_stub(payload, 32, 32)
    return resized.select(
        F.col("id").alias("doc_id"),
        F.col("content_meta.width").alias("out_w"),
        F.col("content_meta.height").alias("out_h"),
        F.length("content").cast("bigint").alias("n_bytes_out"))


@q("mm_frame_sample",
   "SELECT doc_id, CAST((n_chars % 120) + 1 AS INT) AS n_frames, "
   "CAST((n_chars % 120) // 7 + 1 AS INT) AS n_sampled, "
   "CAST(CASE WHEN n_chars IS NOT NULL THEN 0 END AS INT) "
   "AS first_frame, "
   "CAST(7 * ((n_chars % 120) // 7) AS INT) AS last_frame "
   "FROM documents")
def mm_frame_sample(spark, sf):
    """Synthetic video metadata (n_frames from n_chars) → JVM-side frame
    sampling plan (every 7th frame); oracle is the closed form of the
    arithmetic progression."""
    d = table(spark, sf, "documents")
    meta = F.struct(
        F.lit("video").alias("modality"), F.lit("video/mp4").alias("mime"),
        _null_int().alias("width"), _null_int().alias("height"),
        _null_int().alias("sample_rate"),
        ((F.col("n_chars") % 120) + 1).cast("int").alias("n_frames"))
    sampled = MM.frame_sample_plan(
        d.select("doc_id", meta.alias("content_meta")), every_n=7)
    return sampled.select(
        "doc_id",
        F.col("content_meta.n_frames").alias("n_frames"),
        F.size("sample_frames").alias("n_sampled"),
        F.element_at("sample_frames", 1).alias("first_frame"),
        F.element_at("sample_frames", -1).alias("last_frame"))


@q("mm_image_stats",
   "WITH pxt AS (SELECT doc_id, substr(text, 1, 48) AS px FROM documents "
   "WHERE n_chars >= 48 AND text IS NOT NULL) "
   "SELECT doc_id, 4 AS width, 4 AS height, "
   "list_avg([ascii(px[3*j+1]) for j in range(0, 16)]) AS mean_r, "
   "list_avg([ascii(px[3*j+2]) for j in range(0, 16)]) AS mean_g, "
   "list_avg([ascii(px[3*j+3]) for j in range(0, 16)]) AS mean_b "
   "FROM pxt")
def mm_image_stats(spark, sf):
    """REAL image decoding, oracle-pinned: each document's first 48 bytes
    become a genuine 4×4 binary PPM (header + raw RGB), decoded by the
    pure-numpy P6 decoder inside Arrow-batched mapInPandas; the oracle
    recomputes the per-channel means directly from the character codes.
    Channel means are int-sum/16 (a power of two), so the float64 values
    are bit-exact on both engines (multimodal.binary_ops.decode_image /
    image_stats — no stub in this path)."""
    d = (table(spark, sf, "documents")
         .filter((F.col("n_chars") >= 48) & F.col("text").isNotNull())
         .select(F.col("doc_id").alias("id"),
                 F.concat(F.lit(b"P6\n4 4\n255\n"),
                          F.substring("text", 1, 48).cast("binary"))
                  .alias("content")))
    return (MM.image_stats(d)
            .withColumnRenamed("id", "doc_id"))


def _wav_header_48() -> bytes:
    """RIFF/WAVE PCM16 mono 8 kHz header for a fixed 48-byte data chunk
    (24 samples) — constant, so it embeds as a binary literal."""
    import struct
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    return (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + 48)
            + b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", 48))


@q("mm_audio_stats",
   "WITH pxt AS (SELECT doc_id, substr(text, 1, 48) AS px FROM documents "
   "WHERE n_chars >= 48 AND text IS NOT NULL), "
   "smp AS (SELECT doc_id, [ascii(px[2*j+1]) + 256 * ascii(px[2*j+2]) "
   "for j in range(0, 24)] AS s FROM pxt) "
   "SELECT doc_id, 24 AS n_samples, 8000 AS sample_rate, "
   "3.0 AS duration_ms, "
   "CAST(list_sum(s) AS DOUBLE) / 24 AS mean_amp, "
   "sqrt(CAST(list_sum([x * x for x in s]) AS DOUBLE) / 24) AS rms "
   "FROM smp")
def mm_audio_stats(spark, sf):
    """REAL audio decoding, oracle-pinned: each document's first 48 bytes
    become a genuine 24-sample mono PCM16 WAV (RIFF header + little-
    endian samples), decoded by the pure-struct/numpy WAV parser inside
    Arrow-batched mapInPandas; the oracle rebuilds the samples from
    character codes (lo + 256·hi, always positive — ASCII high bytes).
    Mean/RMS are exact-int sums with one double division (+ IEEE sqrt),
    bit-exact cross-engine (multimodal.binary_ops.audio_stats — no stub
    in this path)."""
    d = (table(spark, sf, "documents")
         .filter((F.col("n_chars") >= 48) & F.col("text").isNotNull())
         .select(F.col("doc_id").alias("id"),
                 F.concat(F.lit(_wav_header_48()),
                          F.substring("text", 1, 48).cast("binary"))
                  .alias("content")))
    return (MM.audio_stats(d)
            .withColumnRenamed("id", "doc_id"))


@q("mm_video_frame_stats",
   "WITH pxt AS (SELECT doc_id, substr(text, 1, 48) AS px FROM documents "
   "WHERE n_chars >= 48 AND text IS NOT NULL), f AS ("
   "SELECT doc_id, 0 AS frame_idx, "
   "list_avg([ascii(px[i]) for i in range(1, 17)]) AS mean_luma FROM pxt "
   "UNION ALL SELECT doc_id, 2, "
   "list_avg([ascii(px[i]) for i in range(33, 49)]) FROM pxt) "
   "SELECT doc_id, frame_idx, 4 AS width, 4 AS height, mean_luma FROM f")
def mm_video_frame_stats(spark, sf):
    """REAL video decoding + frame sampling, oracle-pinned: each
    document's first 48 bytes become a genuine 3-frame 4×4 Cmono
    YUV4MPEG2 clip (header + FRAME markers), decoded by the pure-numpy
    Y4M parser; every 2nd frame (0 and 2) yields its exact mean luma
    (int sum / 16 — bit-exact cross-engine). The stride sampling here is
    decode-side, complementing the metadata-only mm_frame_sample planner
    (multimodal.binary_ops.video_frame_stats — no stub in this path)."""
    header = b"YUV4MPEG2 W4 H4 F25:1 Ip A1:1 Cmono\n"
    frame = F.lit(b"FRAME\n")
    d = (table(spark, sf, "documents")
         .filter((F.col("n_chars") >= 48) & F.col("text").isNotNull())
         .select(F.col("doc_id").alias("id"),
                 F.concat(
                     F.lit(header),
                     frame, F.substring("text", 1, 16).cast("binary"),
                     frame, F.substring("text", 17, 16).cast("binary"),
                     frame, F.substring("text", 33, 16).cast("binary"))
                  .alias("content")))
    return (MM.video_frame_stats(d, stride=2)
            .withColumnRenamed("id", "doc_id"))


@q("mm_phash_pairs",
   "WITH img AS (SELECT doc_id, substr(text, 1, 192) AS px "
   "FROM documents WHERE n_chars >= 192 AND text IS NOT NULL), "
   "s AS (SELECT doc_id, [ascii(px[3*j+1]) + ascii(px[3*j+2]) "
   "+ ascii(px[3*j+3]) for j in range(0, 64)] AS ss FROM img), "
   "h AS (SELECT doc_id, "
   "CAST(list_sum([CASE WHEN 64 * ss[j+1] > list_sum(ss) "
   "THEN CAST(1 AS BIGINT) << j ELSE 0 END for j in range(0, 32)]) "
   "AS BIGINT) AS lo, "
   "CAST(list_sum([CASE WHEN 64 * ss[j+33] > list_sum(ss) "
   "THEN CAST(1 AS BIGINT) << j ELSE 0 END for j in range(0, 32)]) "
   "AS BIGINT) AS hi FROM s), "
   "b AS (SELECT doc_id, lo, hi, "
   "unnest([lo & 65535, lo >> 16, hi & 65535, hi >> 16]) AS band, "
   "unnest([0, 1, 2, 3]) AS k FROM h), "
   "cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b, "
   "a.lo AS la, a.hi AS ha, c.lo AS lb, c.hi AS hb "
   "FROM b a JOIN b c ON a.k = c.k AND a.band = c.band "
   "AND a.doc_id < c.doc_id) "
   "SELECT id_a, id_b, CAST(bit_count(xor(la, lb)) "
   "+ bit_count(xor(ha, hb)) AS INT) AS hamming FROM cand "
   "WHERE bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) <= 3")
def mm_phash_pairs(spark, sf):
    """Perceptual-hash near-duplicate image pairs — the multimodal dedup
    operator: REAL-decoded 8×8 images (each document's first 192 bytes
    as a genuine P6 PPM, same convention as mm_image_stats) hash to a
    64-bit aHash via pure integer arithmetic (bit_j = 64·luma_j > Σluma),
    and pairs within Hamming distance 3 surface via pigeonhole banding —
    4 × 16-bit bands, so ≤ 3 flipped bits GUARANTEE a shared band
    (lossless), and the all-pairs space is never touched. The oracle
    recomputes the hash from raw character codes, pinning decoder +
    packing + banding + popcount end-to-end. Signatures are a narrow
    Arrow map (blobs never shuffle); candidates are a band equi-join;
    verification is two XOR popcounts per candidate."""
    d = (table(spark, sf, "documents")
         .filter((F.col("n_chars") >= 192) & F.col("text").isNotNull())
         .select(F.col("doc_id").alias("id"),
                 F.concat(F.lit(b"P6\n8 8\n255\n"),
                          F.substring("text", 1, 192).cast("binary"))
                  .alias("content")))
    h = MM.ahash64(d)
    bands = F.array(
        F.col("lo").bitwiseAND(F.lit(65535)),
        F.shiftright("lo", 16),
        F.col("hi").bitwiseAND(F.lit(65535)),
        F.shiftright("hi", 16))
    b = h.select(F.col("id").alias("doc_id"), "lo", "hi",
                 F.posexplode(bands).alias("k", "band"))
    left = b.select(F.col("doc_id").alias("id_a"),
                    F.col("lo").alias("la"), F.col("hi").alias("ha"),
                    "k", "band")
    right = b.select(F.col("doc_id").alias("id_b"),
                     F.col("lo").alias("lb"), F.col("hi").alias("hb"),
                     "k", "band")
    cand = (left.join(right, ["k", "band"])
                .where(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b", "la", "ha", "lb", "hb")
                .distinct())
    ham = (F.bit_count(F.col("la").bitwiseXOR(F.col("lb")))
           + F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
    return (cand.where(ham <= 3)
                .select("id_a", "id_b", ham.cast("int").alias("hamming")))


def _wav_header(n_bytes: int) -> bytes:
    """RIFF/WAVE PCM16 mono 8 kHz header for an ``n_bytes`` data chunk."""
    import struct
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    return (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + n_bytes)
            + b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", n_bytes))


@q("mm_audio_fingerprint_pairs",
   "WITH pxt AS (SELECT doc_id, substr(text, 1, 128) AS px "
   "FROM documents WHERE n_chars >= 128 AND text IS NOT NULL), "
   "smp AS (SELECT doc_id, [ascii(px[2*j+1]) + 256 * ascii(px[2*j+2]) "
   "for j in range(0, 64)] AS s FROM pxt), "
   "en AS (SELECT doc_id, [CAST(s[2*i+1] AS BIGINT) * s[2*i+1] "
   "+ CAST(s[2*i+2] AS BIGINT) * s[2*i+2] for i in range(0, 32)] AS e "
   "FROM smp), "
   "fp AS (SELECT doc_id, CAST(list_sum([CASE WHEN e[i+2] > e[i+1] "
   "THEN CAST(1 AS BIGINT) << i ELSE 0 END for i in range(0, 31)]) "
   "AS BIGINT) AS f FROM en), "
   "b AS (SELECT doc_id, f, unnest([f & 65535, f >> 16]) AS band, "
   "unnest([0, 1]) AS k FROM fp), "
   "cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b, "
   "a.f AS fa, c.f AS fb FROM b a JOIN b c "
   "ON a.k = c.k AND a.band = c.band AND a.doc_id < c.doc_id) "
   "SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming "
   "FROM cand WHERE bit_count(xor(fa, fb)) <= 1")
def mm_audio_fingerprint_pairs(spark, sf):
    """Acoustic near-duplicate pairs — the audio member of the
    multimodal dedup family (image twin: mm_phash_pairs): each
    document's first 128 bytes become a genuine 64-sample PCM16 WAV
    (same convention as mm_audio_stats), REAL-decoded and fingerprinted
    by the integer energy-delta sign chain; pairs within Hamming
    distance 1 surface via 2 × ~16-bit pigeonhole bands (lossless for
    ≤ 1 flip). ASCII text keeps the high byte ≤ 127, so signed PCM16
    equals the oracle's lo+256·hi rebuild. Fingerprints are a narrow
    Arrow map (audio bytes never shuffle); candidates are a band
    equi-join; verify is one XOR popcount."""
    d = (table(spark, sf, "documents")
         .filter((F.col("n_chars") >= 128) & F.col("text").isNotNull())
         .select(F.col("doc_id").alias("id"),
                 F.concat(F.lit(_wav_header(128)),
                          F.substring("text", 1, 128).cast("binary"))
                  .alias("content")))
    h = MM.audio_fingerprint31(d)
    bands = F.array(F.col("fp").bitwiseAND(F.lit(65535)),
                    F.shiftright("fp", 16))
    b = h.select(F.col("id").alias("doc_id"), "fp",
                 F.posexplode(bands).alias("k", "band"))
    left = b.select(F.col("doc_id").alias("id_a"),
                    F.col("fp").alias("fa"), "k", "band")
    right = b.select(F.col("doc_id").alias("id_b"),
                     F.col("fp").alias("fb"), "k", "band")
    cand = (left.join(right, ["k", "band"])
                .where(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b", "fa", "fb").distinct())
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return (cand.where(ham <= 1)
                .select("id_a", "id_b", ham.cast("int").alias("hamming")))


@q("pipeline_mm_dedup_report",
   "WITH img AS (SELECT doc_id, source, substr(text, 1, 192) AS px "
   "FROM documents WHERE n_chars >= 192 AND text IS NOT NULL), "
   "s AS (SELECT doc_id, source, [ascii(px[3*j+1]) + ascii(px[3*j+2]) "
   "+ ascii(px[3*j+3]) for j in range(0, 64)] AS ss FROM img), "
   "h AS (SELECT doc_id, source, "
   "CAST(list_sum([CASE WHEN 64 * ss[j+1] > list_sum(ss) "
   "THEN CAST(1 AS BIGINT) << j ELSE 0 END for j in range(0, 32)]) "
   "AS BIGINT) AS lo, "
   "CAST(list_sum([CASE WHEN 64 * ss[j+33] > list_sum(ss) "
   "THEN CAST(1 AS BIGINT) << j ELSE 0 END for j in range(0, 32)]) "
   "AS BIGINT) AS hi FROM s) "
   "SELECT source, COUNT(*) AS n_images, "
   "COUNT(DISTINCT (lo, hi)) AS n_unique_hashes, "
   "CAST(COUNT(*) - COUNT(DISTINCT (lo, hi)) AS BIGINT) "
   "AS n_perceptual_dups, "
   "CAST(floor(CAST(COUNT(DISTINCT (lo, hi)) AS DOUBLE) "
   "/ COUNT(*) * 1000000.0 + 0.5) AS BIGINT) AS keep_rate_micro "
   "FROM h GROUP BY source")
def pipeline_mm_dedup_report(spark, sf):
    """Multimodal dedup pipeline report — the per-source funnel a
    curation team reads before dropping perceptual duplicates: images
    in, distinct aHash signatures, perceptual dups (identical 64-bit
    hash ⇒ visually identical under aHash), and the keep rate.
    Signatures come from the REAL-decoded pixel path (ahash64; lo·2³²+hi
    reassembles the full hash exactly — both halves < 2³², no overflow);
    one narrow Arrow map + one source-grain distinct-count. The
    pair-level view is mm_phash_pairs; this is its rollup twin."""
    d = (table(spark, sf, "documents")
         .filter((F.col("n_chars") >= 192) & F.col("text").isNotNull())
         .select(F.col("doc_id").alias("id"), "source",
                 F.concat(F.lit(b"P6\n8 8\n255\n"),
                          F.substring("text", 1, 192).cast("binary"))
                  .alias("content")))
    h = MM.ahash64(d.select("id", "content")).join(
        d.select("id", "source"), "id")
    uniq = F.countDistinct("lo", "hi")
    return (h.groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_images"),
                  uniq.alias("n_unique_hashes"),
                  (F.count(F.lit(1)) - uniq).cast("bigint")
                   .alias("n_perceptual_dups"),
                  F.floor(uniq.cast("double") / F.count(F.lit(1))
                          * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
                   .alias("keep_rate_micro")))


# ------------------------------------------------------- round-6aa addition

@q("mm_scene_changes",
   "WITH pxt AS (SELECT doc_id, substr(text, 1, 96) AS px "
   "FROM documents WHERE n_chars >= 96 AND text IS NOT NULL), "
   "d AS (SELECT doc_id, unnest(range(1, 6)) AS j, px FROM pxt), "
   "sad AS (SELECT doc_id, j, CAST(list_sum([abs(ascii(px[j*16+i]) "
   "- ascii(px[(j-1)*16+i])) for i in range(1, 17)]) AS BIGINT) "
   "AS sadv FROM d) "
   "SELECT doc_id, CAST(6 AS INT) AS n_frames, "
   "CAST(SUM(CASE WHEN sadv > 500 THEN 1 ELSE 0 END) AS INT) "
   "AS n_cuts, CAST(MAX(sadv) AS BIGINT) AS max_sad, "
   "CAST(MIN(CASE WHEN sadv > 500 THEN j END) AS INT) AS first_cut "
   "FROM sad GROUP BY doc_id")
def mm_scene_changes(spark, sf):
    """REAL shot-boundary detection: each document's first 96 bytes
    become a genuine 6-frame 4×4 Cmono Y4M clip, decoded by the numpy
    Y4M parser; adjacent-frame SAD over the luma plane marks a cut
    where it exceeds 500 — the keyframe/shot-dedup first pass, exact
    integer arithmetic end-to-end (multimodal.binary_ops
    .scene_changes). The oracle rebuilds every SAD from raw byte
    values."""
    header = b"YUV4MPEG2 W4 H4 F25:1 Ip A1:1 Cmono\n"
    frame = F.lit(b"FRAME\n")
    parts = [F.lit(header)]
    for j in range(6):
        parts += [frame,
                  F.substring("text", j * 16 + 1, 16).cast("binary")]
    d = (table(spark, sf, "documents")
         .filter((F.col("n_chars") >= 96) & F.col("text").isNotNull())
         .select(F.col("doc_id").alias("id"),
                 F.concat(*parts).alias("content")))
    return (MM.scene_changes(d, threshold_sad=500)
              .withColumnRenamed("id", "doc_id"))


@q("mm_audio_vad_segments",
   "WITH pxt AS (SELECT doc_id, substr(text, 1, 48) AS px "
   "FROM documents WHERE n_chars >= 48 AND text IS NOT NULL), "
   "fr AS (SELECT doc_id, unnest(range(0, 6)) AS j, px FROM pxt), "
   "en AS (SELECT doc_id, j, CAST(list_sum([ascii(px[8*j+2*i+1]) "
   "+ 256 * ascii(px[8*j+2*i+2]) for i in range(0, 4)]) AS BIGINT) "
   "AS e FROM fr), "
   "act AS (SELECT doc_id, j, CASE WHEN e > 95000 THEN 1 ELSE 0 END "
   "AS a FROM en), "
   "st AS (SELECT doc_id, j, a, CASE WHEN a = 1 AND "
   "coalesce(lag(a) OVER (PARTITION BY doc_id ORDER BY j), 0) = 0 "
   "THEN 1 ELSE 0 END AS s FROM act), "
   "isl AS (SELECT doc_id, j - CAST(ROW_NUMBER() OVER (PARTITION BY "
   "doc_id ORDER BY j) AS BIGINT) AS g FROM st WHERE a = 1), "
   "runs AS (SELECT doc_id, g, COUNT(*) AS len FROM isl GROUP BY 1, 2), "
   "mx AS (SELECT doc_id, CAST(MAX(len) AS INT) AS max_segment "
   "FROM runs GROUP BY 1) "
   "SELECT st.doc_id, CAST(6 AS INT) AS n_frames, "
   "CAST(SUM(a) AS INT) AS n_active, CAST(SUM(s) AS INT) "
   "AS n_segments, CAST(coalesce(MAX(mx.max_segment), 0) AS INT) "
   "AS max_segment FROM st LEFT JOIN mx ON st.doc_id = mx.doc_id "
   "GROUP BY st.doc_id")
def mm_audio_vad_segments(spark, sf):
    """REAL voice-activity detection: each document's first 48 bytes
    become a genuine 24-sample PCM16 WAV; 4-sample frames whose
    integer amplitude sum exceeds 95000 are active, and maximal active
    runs are the utterance segments — the silence-trimming first pass,
    exact integers end-to-end (multimodal.binary_ops.vad_segments).
    The oracle rebuilds energies from byte values and finds runs with
    the islands window."""
    d = (table(spark, sf, "documents")
         .filter((F.col("n_chars") >= 48) & F.col("text").isNotNull())
         .select(F.col("doc_id").alias("id"),
                 F.concat(F.lit(_wav_header_48()),
                          F.substring("text", 1, 48).cast("binary"))
                  .alias("content")))
    return (MM.vad_segments(d, frame_samples=4, threshold=95000)
              .withColumnRenamed("id", "doc_id"))


# ------------------------------------------------------- round-6ggg addition

@q("mm_brightness_by_source",
   "WITH pxt AS (SELECT doc_id, source, substr(text, 1, 48) AS px "
   "FROM documents WHERE n_chars >= 48 AND text IS NOT NULL), "
   "l AS (SELECT source, "
   "CAST(list_sum([299 * ascii(px[3*j+1]) + 587 * ascii(px[3*j+2]) "
   "+ 114 * ascii(px[3*j+3]) for j in range(0, 16)]) AS BIGINT) "
   "AS ls FROM pxt) "
   "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_images, "
   "CAST(SUM(ls) AS BIGINT) AS luma_milli_sum, "
   "CAST(floor(CAST(SUM(ls) AS DOUBLE) / (16.0 * COUNT(*)) + 0.5) "
   "AS BIGINT) AS mean_luma_milli FROM l GROUP BY 1")
def mm_brightness_by_source(spark, sf):
    """Per-source image brightness drift: exact integer ITU-R 601 luma
    over REAL-decoded 4×4 PPM pixels, rolled up by ingest source — the
    multimodal sibling of text_ks_drift_by_source ('did feed X's
    camera/exposure pipeline change?'). Integer milli-luma sums keep
    the rollup order-independent; one terminal division per source
    (multimodal.binary_ops.image_luma_sums)."""
    d = (table(spark, sf, "documents")
         .filter((F.col("n_chars") >= 48) & F.col("text").isNotNull())
         .select(F.col("doc_id").alias("id"), "source",
                 F.concat(F.lit(b"P6\n4 4\n255\n"),
                          F.substring("text", 1, 48).cast("binary"))
                  .alias("content")))
    luma = MM.image_luma_sums(d)
    return (d.select("id", "source").join(luma, "id")
             .groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_images"),
                  F.sum("luma_milli_sum").alias("luma_milli_sum"),
                  F.floor(F.sum("luma_milli_sum").cast("double")
                          / (F.lit(16.0) * F.count(F.lit(1)))
                          + F.lit(0.5)).cast("bigint")
                   .alias("mean_luma_milli")))
