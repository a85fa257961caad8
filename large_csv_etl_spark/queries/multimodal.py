"""Multimodal-column queries (§2b last row) — binary payload plumbing over
the documents fixture, including an ORACLED mapInPandas path: the stub
decoder derives dimensions deterministically from byte length, so DuckDB
can reproduce the whole Arrow-batched pipeline with pure SQL arithmetic —
proving the Python batch path computes exactly what it claims.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..multimodal import attach_payload, decode_payloads, sample_frames
from .helpers import local_frame, registry

QUERIES, ORACLES, _q = registry()


@_q(
    "multimodal_payload_stats",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           MD5(text) AS payload_md5
    FROM documents
    """,
)
def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload accounting: byte length + content digest, computed on
    the BinaryType column JVM-side (DuckDB's string md5 hashes the same
    utf-8 bytes)."""
    docs = load_table(spark, sf_dir, "documents")
    payloads = attach_payload(docs)
    return payloads.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
    )


@_q(
    "multimodal_decoded_dims",
    """
    SELECT doc_id,
           CAST(16 + (octet_length(encode(text)) % 240) AS INT) AS width,
           CAST(16 + ((octet_length(encode(text)) // 7) % 240) AS INT) AS height,
           3 AS n_channels
    FROM documents
    """,
)
def multimodal_decoded_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInPandas decode path, oracle-verified: the deterministic stub
    decoder's output must equal the closed-form SQL over byte lengths —
    i.e. the Arrow batch pipeline (schema, batching, row alignment) is
    exactly right, independent of which decoder runs inside it."""
    docs = load_table(spark, sf_dir, "documents")
    decoded = decode_payloads(attach_payload(docs), stub=True)
    return decoded.select(
        "doc_id", "width", "height", F.col("n_channels").cast("int").alias("n_channels")
    )


@_q(
    "multimodal_frame_index",
    """
    SELECT doc_id,
           GREATEST(CAST(CEIL(octet_length(encode(text)) / 64.0) AS BIGINT), 1)
             AS n_frames,
           octet_length(encode(text)) AS total_frame_bytes
    FROM documents WHERE octet_length(encode(text)) > 0
    """,
)
def multimodal_frame_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride frame sampling (JVM-side substring explode): frame
    count and reassembled byte total per document — the keyframe-index
    pass that precedes any real decoder."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.octet_length(F.encode(F.col("text"), "utf-8")) > 0
    )
    frames = sample_frames(attach_payload(docs))
    return frames.groupBy("doc_id").agg(
        F.count("*").alias("n_frames"),
        F.sum(F.octet_length("frame_bytes")).alias("total_frame_bytes"),
    )


@_q(
    "multimodal_resize_dims",
    """
    WITH d AS (
      SELECT doc_id,
             16 + (octet_length(encode(text)) % 240) AS w,
             16 + ((octet_length(encode(text)) // 7) % 240) AS h
      FROM documents
    ), s AS (
      SELECT doc_id, w, h,
             LEAST(224000000 // w, 224000000 // h) AS scale_fp
      FROM d
    )
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(GREATEST(1, w * scale_fp // 1000000) AS INT) AS out_w,
           CAST(GREATEST(1, h * scale_fp // 1000000) AS INT) AS out_h,
           CAST(scale_fp AS BIGINT) AS scale_fp
    FROM s
    """,
)
def multimodal_resize_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + aspect-fit-resize planning in one Arrow batch
    (mapInPandas), oracle-verified: integer fixed-point scaling means the
    Python stage's output is reproducible by closed-form SQL, so the
    grade proves batch alignment through a TWO-step in-Python pipeline
    (decode feeding resize), not just a single map."""
    from ..multimodal import resize_payloads

    docs = load_table(spark, sf_dir, "documents")
    return resize_payloads(attach_payload(docs))


@_q(
    "multimodal_audio_windows",
    """
    WITH a AS (
      SELECT doc_id,
             octet_length(encode(text)) // 2 AS n_samples
      FROM documents
    )
    SELECT doc_id, CAST(n_samples AS BIGINT) AS n_samples,
           CAST(n_samples * 1000 // 16000 AS BIGINT) AS duration_ms,
           CAST(CASE WHEN n_samples = 0 THEN 0
                     WHEN n_samples < 400 THEN 1
                     ELSE 1 + (n_samples - 400) // 160 END AS BIGINT)
             AS n_windows
    FROM a
    """,
)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio frame-sampling manifest: treat the payload as 16-bit mono PCM
    at 16 kHz and compute the 25 ms / 10 ms hop window count per clip —
    the STFT/fbank indexing pass that precedes any real DSP, as pure JVM
    integer arithmetic (the decoder stays stubbed; the window algebra is
    the part a 100 TB pipeline runs on every clip)."""
    docs = load_table(spark, sf_dir, "documents")
    payloads = attach_payload(docs)
    n_samples = (F.col("meta.n_bytes") / 2).cast("bigint")
    win, hop = 400, 160
    n_windows = (
        F.when(n_samples == 0, 0)
        .when(n_samples < win, 1)
        .otherwise(1 + F.floor((n_samples - win) / hop))
        .cast("bigint")
    )
    return payloads.select(
        "doc_id",
        n_samples.alias("n_samples"),
        F.floor(n_samples * 1000 / 16000).cast("bigint").alias("duration_ms"),
        n_windows.alias("n_windows"),
    )


@_q("multimodal_ahash_neardup")  # pixel-level perceptual hash; rows-only
def multimodal_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual (average-hash) duplicate audit over binary payloads:
    aHash each payload in one Arrow-batched mapInPandas pass, then a
    16-byte-key hash aggregate — the image-dedup shape (exact-equal
    aHash buckets; Hamming<=k pairing would reuse the SimHash banding
    machinery). Rows-only: pixel decoding is engine-internal, so
    correctness is pinned in tests/test_multimodal.py instead — planted
    identical / filter-variant / perturbed PNGs must land in the same
    bucket through the REAL decode path, and the stub path is
    deterministic across runs. Reports corpus totals + duplicated-mass
    ratio, mirroring the CDC chunk report."""
    from ..multimodal import ahash_payloads

    docs = load_table(spark, sf_dir, "documents")
    hashes = ahash_payloads(attach_payload(docs), stub=True)
    groups = hashes.groupBy("ahash").agg(F.count("*").alias("n_docs"))
    return groups.agg(
        F.sum("n_docs").cast("bigint").alias("n_payloads"),
        F.count("*").cast("bigint").alias("n_distinct_hashes"),
        F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_groups"),
        F.when(
            F.sum("n_docs") > 0,
            (F.sum("n_docs") - F.count("*")).cast("double")
            / F.sum("n_docs"),
        ).alias("dup_mass_ratio"),
    )


@_q("multimodal_frame_ahash_dedup")  # pixel-level frame hashing; rows-only
def multimodal_frame_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level perceptual dedup: the video analog of
    multimodal_ahash_neardup — sample fixed-stride frames from each
    payload (the JVM-side keyframe index pass), perceptual-hash every
    frame in one Arrow batch pass, and report how much frame mass is
    visually duplicated within and across documents (static scenes,
    repeated intros, and copied b-roll all collapse to tiny
    distinct-hash counts — the audit that sizes a frame-dedup pass
    before video training). Composes two existing graded/pinned
    pieces: sample_frames (byte-slice explode, no Python) and
    ahash_payloads (integer aHash, filter-invariance pinned in pytest);
    rows-only because pixels are engine-internal. One mapInPandas over
    the frame stream, then a 16-byte-key hash aggregate."""
    from ..multimodal import ahash_payloads, sample_frames

    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(attach_payload(docs), every_n_bytes=64)
    # frame rows -> (doc_id, payload) shape that ahash_payloads expects;
    # frame_idx folds into a synthetic id so hashes stay per-frame
    fr = frames.select(
        (F.col("doc_id") * 10000 + F.col("frame_idx")).alias("doc_id"),
        F.col("frame_bytes").alias("payload"),
    )
    hashed = ahash_payloads(fr, stub=True)
    groups = hashed.groupBy("ahash").agg(F.count("*").alias("n_frames"))
    return groups.agg(
        F.sum("n_frames").cast("bigint").alias("n_frames_total"),
        F.count("*").cast("bigint").alias("n_distinct_hashes"),
        F.sum(F.when(F.col("n_frames") >= 2, F.col("n_frames")).otherwise(0))
        .cast("bigint")
        .alias("n_frames_in_dup_groups"),
        F.when(
            F.sum("n_frames") > 0,
            (F.sum("n_frames") - F.count("*")).cast("double")
            / F.sum("n_frames"),
        ).alias("dup_frame_ratio"),
    )


@_q("multimodal_phash_dedup")  # frequency-domain perceptual hash; rows-only
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT perceptual-hash (pHash) duplicate audit — the frequency-domain
    counterpart of multimodal_ahash_neardup, robust to global
    brightness/contrast shifts: one Arrow-batched mapInPandas pass hashes
    every payload (32x32 integer block means -> orthonormal DCT-II ->
    8x8 low-frequency corner thresholded at the non-DC median), then an
    8-byte-key hash aggregate reports the duplicated mass. Rows-only:
    the DCT runs engine-internal floats, so correctness is pinned in
    tests/test_multimodal.py (identical payloads collapse, brightness
    shift preserved, stub determinism) rather than a SQL oracle. Scale
    shape identical to aHash: corpus-sized work is one Python-worker
    pass + one 64-bit-key groupBy."""
    from ..multimodal import phash_payloads

    docs = load_table(spark, sf_dir, "documents")
    hashes = phash_payloads(attach_payload(docs), stub=True)
    groups = hashes.groupBy("phash").agg(F.count("*").alias("n_docs"))
    return groups.agg(
        F.sum("n_docs").cast("bigint").alias("n_payloads"),
        F.count("*").cast("bigint").alias("n_distinct_hashes"),
        F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_groups"),
        F.when(
            F.sum("n_docs") > 0,
            (F.sum("n_docs") - F.count("*")).cast("double")
            / F.sum("n_docs"),
        ).alias("dup_mass_ratio"),
    )


@_q(
    "multimodal_vad_segments",
    """
    WITH chars AS (
      SELECT doc_id, i AS pos, unicode(substr(text, i, 1)) AS code
      FROM (SELECT doc_id, text, UNNEST(range(1, LENGTH(text) + 1)) AS i
            FROM documents WHERE LENGTH(text) > 0)
    ), halves AS (
      SELECT doc_id, (pos - 1) // 32 AS h,
             CAST(SUM(code * code) AS BIGINT) AS e
      FROM chars GROUP BY doc_id, (pos - 1) // 32
    ), wins AS (
      SELECT doc_id, h AS k,
             e + COALESCE(LEAD(e) OVER (PARTITION BY doc_id ORDER BY h), 0)
               AS we
      FROM halves
    ), stats AS (
      SELECT doc_id, COUNT(*) AS n_windows, CAST(SUM(we) AS BIGINT) AS sum_we
      FROM wins GROUP BY doc_id
    ), flagged AS (
      SELECT w.doc_id, w.k, w.we, s.n_windows,
             w.we * s.n_windows > s.sum_we AS active
      FROM wins w JOIN stats s USING (doc_id)
    ), islands AS (
      SELECT doc_id, k,
             k - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY k) AS grp
      FROM flagged WHERE active
    ), segs AS (
      SELECT doc_id, grp, COUNT(*) AS seg_len
      FROM islands GROUP BY doc_id, grp
    )
    SELECT s.doc_id,
           CAST(s.n_windows AS BIGINT) AS n_windows,
           CAST(COALESCE(SUM(g.seg_len), 0) AS BIGINT) AS n_active,
           CAST(COUNT(g.grp) AS BIGINT) AS n_segments,
           CAST(COALESCE(MAX(g.seg_len), 0) AS BIGINT) AS longest_segment
    FROM (SELECT DISTINCT doc_id, n_windows FROM flagged) s
    LEFT JOIN segs g ON g.doc_id = s.doc_id
    GROUP BY s.doc_id, s.n_windows
    """,
)
def multimodal_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-threshold voice-activity detection over the stub PCM
    payload — and unlike most media ops, fully ORACLE-GRADED: the
    payload's byte codes stand in for 8-bit samples (the fixture is
    ASCII, so Spark's ascii() and DuckDB's unicode() agree per
    character), 64-sample windows with a 32-sample hop get exact integer
    energies (sum of squared codes, assembled from half-window partial
    sums — one explode, one agg, one LEAD), a window is speech-active
    iff energy * n_windows > total_energy (the cross-multiplied
    above-mean test — no division, no floats anywhere), and adjacent
    active windows merge into segments via the gaps-and-islands
    row-number trick. Per doc: window count, active count, segment
    count, longest segment — the VAD manifest an audio curation
    pipeline gates on before any expensive ASR. The char explode is
    row-local (the CDC-chunk precedent); everything downstream runs on
    |docs x windows| reduced rows."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    chars = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("text"))).alias("pos"),
        "text",
    ).select(
        "doc_id",
        "pos",
        F.ascii(F.expr("substring(text, pos, 1)")).alias("code"),
    )
    halves = chars.groupBy(
        "doc_id", F.expr("(pos - 1) div 32").alias("h")
    ).agg(F.sum(F.col("code") * F.col("code")).cast("bigint").alias("e"))
    wins = halves.select(
        "doc_id",
        F.col("h").alias("k"),
        (
            F.col("e")
            + F.coalesce(
                F.lead("e").over(
                    Window.partitionBy("doc_id").orderBy("h")
                ),
                F.lit(0),
            )
        ).alias("we"),
    )
    stats = wins.groupBy("doc_id").agg(
        F.count("*").alias("n_windows"),
        F.sum("we").cast("bigint").alias("sum_we"),
    )
    flagged = wins.join(stats, "doc_id").select(
        "doc_id",
        "k",
        "n_windows",
        (F.col("we") * F.col("n_windows") > F.col("sum_we")).alias("active"),
    )
    islands = flagged.filter("active").select(
        "doc_id",
        "k",
        (
            F.col("k")
            - F.row_number().over(
                Window.partitionBy("doc_id").orderBy("k")
            )
        ).alias("grp"),
    )
    segs = islands.groupBy("doc_id", "grp").agg(
        F.count("*").alias("seg_len")
    )
    base = flagged.select("doc_id", "n_windows").distinct()
    return (
        base.join(segs, "doc_id", "left")
        .groupBy("doc_id", "n_windows")
        .agg(
            F.coalesce(F.sum("seg_len"), F.lit(0))
            .cast("bigint")
            .alias("n_active"),
            F.count("grp").cast("bigint").alias("n_segments"),
            F.coalesce(F.max("seg_len"), F.lit(0))
            .cast("bigint")
            .alias("longest_segment"),
        )
        .select(
            "doc_id",
            F.col("n_windows").cast("bigint").alias("n_windows"),
            "n_active",
            "n_segments",
            "longest_segment",
        )
    )


@_q("multimodal_frame_phash_dedup")  # frequency-domain frame hashing; rows-only
def multimodal_frame_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level DCT perceptual dedup — composes the two pinned pieces
    the aHash twin (multimodal_frame_ahash_dedup) composes, with the
    brightness-robust pHash in the hashing seat: fixed-stride frame
    sampling (JVM byte slices, no Python) then one Arrow-batch pHash
    pass, reporting duplicated frame mass. Rows-only (engine-internal
    DCT floats); stub determinism and perceptual invariances are pinned
    in tests/test_multimodal.py."""
    from ..multimodal import phash_payloads, sample_frames

    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(attach_payload(docs), every_n_bytes=64)
    fr = frames.select(
        (F.col("doc_id") * 10000 + F.col("frame_idx")).alias("doc_id"),
        F.col("frame_bytes").alias("payload"),
    )
    hashed = phash_payloads(fr, stub=True)
    groups = hashed.groupBy("phash").agg(F.count("*").alias("n_frames"))
    return groups.agg(
        F.sum("n_frames").cast("bigint").alias("n_frames_total"),
        F.count("*").cast("bigint").alias("n_distinct_hashes"),
        F.sum(F.when(F.col("n_frames") >= 2, F.col("n_frames")).otherwise(0))
        .cast("bigint")
        .alias("n_frames_in_dup_groups"),
        F.when(
            F.sum("n_frames") > 0,
            (F.sum("n_frames") - F.count("*")).cast("double")
            / F.sum("n_frames"),
        ).alias("dup_frame_ratio"),
    )


@_q("multimodal_scene_cuts")  # pixel-hash frame deltas; rows-only
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over the sampled frame stream: perceptual-hash
    every fixed-stride frame (one Arrow-batch aHash pass), then flag a
    cut wherever the Hamming distance between CONSECUTIVE frame hashes
    exceeds 16 of 64 bits — the shot-boundary heuristic that segments
    video before per-scene sampling/captioning. The frame ordering, the
    XOR + bit_count Hamming distance, and the run accounting are exact
    JVM integer ops over the hash column; rows-only because the pixels
    behind the hash are engine-internal (stub determinism and the
    planted two-scene fixture are pinned in tests/test_multimodal.py).
    Per doc: frame count, cut count, mean scene length in frames."""
    from pyspark.sql import Window

    from ..multimodal import ahash_payloads, sample_frames

    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(attach_payload(docs), every_n_bytes=64)
    fr = frames.select(
        (F.col("doc_id") * 10000 + F.col("frame_idx")).alias("doc_id"),
        F.col("frame_bytes").alias("payload"),
    )
    hashed = ahash_payloads(fr, stub=True).select(
        F.expr("doc_id div 10000").alias("doc_id"),
        F.expr("doc_id % 10000").alias("frame_idx"),
        "ahash",
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    deltas = hashed.select(
        "doc_id",
        "frame_idx",
        F.bit_count(
            F.col("ahash").bitwiseXOR(F.lag("ahash").over(w))
        ).alias("hamming"),
    )
    return (
        deltas.groupBy("doc_id")
        .agg(
            (F.count("*")).cast("bigint").alias("n_frames"),
            F.sum(
                F.when(F.col("hamming") > 16, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_cuts"),
        )
        .select(
            "doc_id",
            "n_frames",
            "n_cuts",
            (
                F.col("n_frames").cast("double")
                / (F.col("n_cuts") + 1)
            ).alias("mean_scene_len_frames"),
        )
    )


@_q(
    "multimodal_audio_fingerprint",
    """
    WITH chars AS (
      SELECT doc_id, i AS pos, unicode(substr(text, i, 1)) AS code
      FROM (SELECT doc_id, text, UNNEST(range(1, LENGTH(text) + 1)) AS i
            FROM documents WHERE LENGTH(text) > 0)
    ), wins AS (
      SELECT doc_id, (pos - 1) // 32 AS h,
             CAST(SUM(code * code) AS BIGINT) AS e
      FROM chars GROUP BY doc_id, (pos - 1) // 32
    ), deltas AS (
      SELECT doc_id, h, e,
             LEAD(e) OVER (PARTITION BY doc_id ORDER BY h) AS nxt
      FROM wins
    ), bits AS (
      SELECT doc_id, h,
             CASE WHEN nxt > e THEN 1 ELSE 0 END AS bit
      FROM deltas WHERE nxt IS NOT NULL AND h < 16
    ), fp AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bits,
             CAST(SUM(bit * (CAST(1 AS BIGINT) << CAST(h AS INTEGER)))
                  AS BIGINT) AS fingerprint
      FROM bits GROUP BY doc_id
    )
    SELECT f.n_bits, f.fingerprint,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(d.text)) AS BIGINT)
             AS n_distinct_payloads,
           MIN(f.doc_id) AS min_doc_id
    FROM fp f JOIN documents d ON d.doc_id = f.doc_id
    GROUP BY f.n_bits, f.fingerprint
    ORDER BY n_docs DESC, f.n_bits, f.fingerprint
    LIMIT 20
    """,
)
def multimodal_audio_fingerprint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Energy-contour audio fingerprint over the stub PCM payload — the
    Shazam-family idea reduced to its portable core: 32-sample windows
    get exact integer energies (the VAD operator's byte-code contract),
    each consecutive-window energy DELTA contributes one sign bit, and
    the first 16 bits pack into a BIGINT fingerprint. Payloads with the
    same (n_bits, fingerprint) key have the same loudness contour —
    the candidate set an audio dedup pass verifies expensively; the
    distinct-payload count per bucket separates true dups from contour
    collisions. All-integer end to end (energies, sign bits, shifts),
    so the oracle is exact; the explode is row-local and the
    fingerprint group-by carries one BIGINT per doc. Top-20 buckets by
    collision size."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    chars = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("text"))).alias("pos"),
        "text",
    ).select(
        "doc_id",
        "pos",
        F.ascii(F.expr("substring(text, pos, 1)")).alias("code"),
    )
    wins = chars.groupBy(
        "doc_id", F.expr("(pos - 1) div 32").alias("h")
    ).agg(F.sum(F.col("code") * F.col("code")).cast("bigint").alias("e"))
    deltas = wins.select(
        "doc_id",
        "h",
        "e",
        F.lead("e").over(Window.partitionBy("doc_id").orderBy("h")).alias(
            "nxt"
        ),
    )
    bits = deltas.filter(
        F.col("nxt").isNotNull() & (F.col("h") < 16)
    ).select(
        "doc_id",
        "h",
        F.when(F.col("nxt") > F.col("e"), 1).otherwise(0).alias("bit"),
    )
    fp = bits.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bits"),
        F.sum(
            F.col("bit")
            * F.expr("shiftleft(CAST(1 AS BIGINT), CAST(h AS INT))")
        )
        .cast("bigint")
        .alias("fingerprint"),
    )
    payload = docs.select("doc_id", F.md5("text").alias("payload_md5"))
    return (
        fp.join(payload, "doc_id")
        .groupBy("n_bits", "fingerprint")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("payload_md5")
            .cast("bigint")
            .alias("n_distinct_payloads"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .orderBy(
            F.col("n_docs").desc(), "n_bits", "fingerprint"
        )
        .limit(20)
    )


@_q(
    "multimodal_tile_index",
    """
    WITH d AS (
      SELECT doc_id,
             16 + (octet_length(encode(text)) % 240) AS w,
             16 + ((octet_length(encode(text)) // 7) % 240) AS h
      FROM documents
    )
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST((w + 15) // 16 AS BIGINT) AS n_tiles_x,
           CAST((h + 15) // 16 AS BIGINT) AS n_tiles_y,
           CAST(((w + 15) // 16) * ((h + 15) // 16) AS BIGINT) AS n_tiles,
           CAST(w - ((w + 15) // 16 - 1) * 16 AS BIGINT) AS last_tile_w,
           CAST(h - ((h + 15) // 16 - 1) * 16 AS BIGINT) AS last_tile_h,
           CAST(((w + 15) // 16) * 16 * (((h + 15) // 16) * 16) - w * h
                AS BIGINT) AS padded_pixels
    FROM d
    """,
)
def multimodal_tile_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-preprocessing patch-grid tiling index over the decoded image
    dimensions: 16x16 tile counts per axis (ceiling division), ragged
    last-tile extents, and the padding cost of snapping to the grid —
    the index a patch-embedding stage consumes. The Spark side runs the
    REAL mapInPandas stub-decode path (Arrow batch alignment is part of
    what's graded, as in multimodal_decoded_dims) and applies the tile
    arithmetic as JVM integer expressions on its output; the oracle
    reproduces the closed form. Pure per-row integer arithmetic — no
    shuffle at all beyond the scan."""
    docs = load_table(spark, sf_dir, "documents")
    decoded = decode_payloads(attach_payload(docs), stub=True)
    w = F.col("width").cast("bigint")
    h = F.col("height").cast("bigint")
    ntx = F.expr("(cast(width as bigint) + 15) div 16")
    nty = F.expr("(cast(height as bigint) + 15) div 16")
    return decoded.select(
        "doc_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        ntx.cast("bigint").alias("n_tiles_x"),
        nty.cast("bigint").alias("n_tiles_y"),
        (ntx * nty).cast("bigint").alias("n_tiles"),
        (w - (ntx - 1) * 16).cast("bigint").alias("last_tile_w"),
        (h - (nty - 1) * 16).cast("bigint").alias("last_tile_h"),
        (ntx * 16 * (nty * 16) - w * h).cast("bigint").alias(
            "padded_pixels"
        ),
    )


@_q(
    "multimodal_letterbox_plan",
    """
    WITH d AS (
      SELECT doc_id,
             16 + (octet_length(encode(text)) % 240) AS w,
             16 + ((octet_length(encode(text)) // 7) % 240) AS h
      FROM documents
    ), s AS (
      SELECT doc_id, w, h,
             LEAST(224000000 // w, 224000000 // h) AS scale_fp
      FROM d
    ), o AS (
      SELECT doc_id, w, h, scale_fp,
             GREATEST(1, w * scale_fp // 1000000) AS out_w,
             GREATEST(1, h * scale_fp // 1000000) AS out_h
      FROM s
    )
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(scale_fp AS BIGINT) AS scale_fp,
           CAST(out_w AS INT) AS out_w, CAST(out_h AS INT) AS out_h,
           CAST((224 - out_w) // 2 AS BIGINT) AS pad_left,
           CAST(224 - out_w - (224 - out_w) // 2 AS BIGINT) AS pad_right,
           CAST((224 - out_h) // 2 AS BIGINT) AS pad_top,
           CAST(224 - out_h - (224 - out_h) // 2 AS BIGINT) AS pad_bottom,
           CAST(out_w * out_h AS DOUBLE) / 50176.0 AS content_share
    FROM o
    """,
)
def multimodal_letterbox_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Letterbox (aspect-preserving resize-to-square) padding plan for a
    224x224 model input — the resize sibling of the graded tile index:
    fixed-point aspect-fit scale (1e-6 lattice, identical truncating
    integer division in both engines), content extents clamped to >= 1,
    and the left/right/top/bottom pad split with the floor-half
    convention (left gets the smaller half). Spark runs the REAL
    mapInPandas stub-decode path so Arrow batch alignment stays part of
    what's graded; the oracle reproduces the closed form. content_share
    divides by the constant 224^2 — total by construction. Pure per-row
    integer arithmetic on the decode output."""
    docs = load_table(spark, sf_dir, "documents")
    decoded = decode_payloads(attach_payload(docs), stub=True)
    w = F.col("width").cast("bigint")
    h = F.col("height").cast("bigint")
    scale_fp = F.least(
        F.expr("CAST(224000000 AS BIGINT) div CAST(width AS BIGINT)"),
        F.expr("CAST(224000000 AS BIGINT) div CAST(height AS BIGINT)"),
    )
    t = decoded.select(
        "doc_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        scale_fp.cast("bigint").alias("scale_fp"),
    )
    out_w = F.greatest(
        F.lit(1).cast("bigint"),
        F.expr("CAST(width AS BIGINT) * scale_fp div 1000000"),
    )
    out_h = F.greatest(
        F.lit(1).cast("bigint"),
        F.expr("CAST(height AS BIGINT) * scale_fp div 1000000"),
    )
    t2 = t.select(
        "doc_id",
        "width",
        "height",
        "scale_fp",
        out_w.cast("int").alias("out_w"),
        out_h.cast("int").alias("out_h"),
    )
    pad_w = F.lit(224) - F.col("out_w")
    pad_h = F.lit(224) - F.col("out_h")
    return t2.select(
        "doc_id",
        "width",
        "height",
        "scale_fp",
        "out_w",
        "out_h",
        F.expr("CAST((224 - out_w) div 2 AS BIGINT)").alias("pad_left"),
        (pad_w - F.expr("(224 - out_w) div 2"))
        .cast("bigint")
        .alias("pad_right"),
        F.expr("CAST((224 - out_h) div 2 AS BIGINT)").alias("pad_top"),
        (pad_h - F.expr("(224 - out_h) div 2"))
        .cast("bigint")
        .alias("pad_bottom"),
        (
            (F.col("out_w") * F.col("out_h")).cast("double") / 50176.0
        ).alias("content_share"),
    )


@_q(
    "multimodal_aspect_bucket_census",
    """
    WITH d AS (
      SELECT doc_id,
             16 + (octet_length(encode(text)) % 240) AS w,
             16 + ((octet_length(encode(text)) // 7) % 240) AS h
      FROM documents
    ), bucketed AS (
      SELECT doc_id, w, h,
             CASE WHEN w * 10 > h * 11 THEN 'landscape'
                  WHEN h * 10 > w * 11 THEN 'portrait'
                  ELSE 'square' END AS bucket,
             GREATEST(1, w * LEAST(224000000 // w, 224000000 // h)
                          // 1000000) AS out_w,
             GREATEST(1, h * LEAST(224000000 // w, 224000000 // h)
                          // 1000000) AS out_h
      FROM d
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(50176 - out_w * out_h) AS BIGINT) AS total_pad_pixels,
           CAST(SUM(50176 - out_w * out_h) AS DOUBLE)
           / (50176.0 * CAST(COUNT(*) AS DOUBLE)) AS mean_waste_share
    FROM bucketed GROUP BY bucket
    """,
)
def multimodal_aspect_bucket_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Aspect-ratio bucket census with per-bucket letterbox waste — the
    batch-shape planner's input: training batches grouped by aspect
    bucket pad less, and this table prices each bucket's residual
    letterbox cost under the 224x224 plan. Buckets use fixed 10%
    thresholds as integer cross-multiplies (landscape: w*10 > h*11;
    portrait: h*10 > w*11; square between — no division, no float
    ratio anywhere); pad pixels reuse the letterbox-plan closed form
    (1e-6 fixed-point aspect-fit scale, clamped extents) on the SAME
    stub-decoded dims, so the census and the per-doc plan can never
    disagree. The Spark side runs the REAL mapInPandas stub-decode
    path (Arrow batch alignment stays graded); one bounded 3-row
    rollup after row-local arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    decoded = decode_payloads(attach_payload(docs), stub=True)
    scale_fp = F.least(
        F.expr("CAST(224000000 AS BIGINT) div CAST(width AS BIGINT)"),
        F.expr("CAST(224000000 AS BIGINT) div CAST(height AS BIGINT)"),
    )
    scaled = decoded.select(
        "width", "height", scale_fp.cast("bigint").alias("scale_fp")
    )
    b = scaled.select(
        F.when(
            F.col("width") * 10 > F.col("height") * 11, "landscape"
        )
        .when(F.col("height") * 10 > F.col("width") * 11, "portrait")
        .otherwise("square")
        .alias("bucket"),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.expr("CAST(width AS BIGINT) * scale_fp div 1000000"),
        ).alias("out_w"),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.expr("CAST(height AS BIGINT) * scale_fp div 1000000"),
        ).alias("out_h"),
    )
    pad = F.lit(50176) - F.col("out_w") * F.col("out_h")
    return b.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(pad).cast("bigint").alias("total_pad_pixels"),
        (
            F.sum(pad).cast("double")
            / (F.lit(50176.0) * F.count("*").cast("double"))
        ).alias("mean_waste_share"),
    )


# --- round 14: batch packing of the tile census ----------------------------

_PACK_CAPACITY = 64
_PACK_SIZES = [64, 32, 16, 8, 4, 2, 1]


def _tile_pack_oracle() -> str:
    bucket_case = (
        "CASE WHEN n > 32 THEN 64 WHEN n > 16 THEN 32 WHEN n > 8 THEN 16 "
        "WHEN n > 4 THEN 8 WHEN n > 2 THEN 4 WHEN n > 1 THEN 2 ELSE 1 END"
    )
    ctes = [
        f"""d AS (
      SELECT (((16 + (octet_length(encode(text)) % 240)) + 15) // 16)
             * (((16 + ((octet_length(encode(text)) // 7) % 240)) + 15) // 16)
             AS n
      FROM documents
    ), b AS (
      SELECT {bucket_case} AS bucket,
             CASE WHEN n > 64 THEN 1 ELSE 0 END AS oversize
      FROM d
    ), cnt AS (
      SELECT CAST(s.x AS BIGINT) AS bucket,
             COALESCE(g.c, 0) AS c, COALESCE(g.ov, 0) AS ov
      FROM (VALUES (64), (32), (16), (8), (4), (2), (1)) s(x)
      LEFT JOIN (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c,
                        CAST(SUM(oversize) AS BIGINT) AS ov
                 FROM b GROUP BY bucket) g ON g.bucket = s.x
    ), st0 AS (SELECT CAST(0 AS BIGINT) AS bins, CAST(0 AS BIGINT) AS free)"""
    ]
    prev = "st0"
    for sz in _PACK_SIZES:
        ctes.append(f"""st{sz} AS (
      SELECT bins + nb AS bins,
             free - absorbed * {sz} + nb * 64 - (c - absorbed) * {sz}
               AS free
      FROM (
        SELECT i.bins, i.free, i.c, i.absorbed,
               ((i.c - i.absorbed) * {sz} + 63) // 64 AS nb
        FROM (
          SELECT p.bins, p.free, cc.c,
                 LEAST(cc.c, p.free // {sz}) AS absorbed
          FROM {prev} p
          CROSS JOIN (SELECT c FROM cnt WHERE bucket = {sz}) cc
        ) i
      )
    )""")
        prev = f"st{sz}"
    steps = " UNION ALL ".join(
        f"SELECT CAST({sz} AS BIGINT) AS bucket, bins AS bins_after, "
        f"free AS free_after FROM st{sz}"
        for sz in _PACK_SIZES
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""", steps AS ({steps})
    SELECT s.bucket AS tile_bucket, cnt.c AS n_images,
           cnt.ov AS n_oversize,
           CAST(s.bins_after AS BIGINT) AS bins_after,
           CAST(s.free_after AS BIGINT) AS free_after,
           CASE WHEN s.bins_after > 0 THEN
             CAST(s.bins_after * 64 - s.free_after AS DOUBLE)
               / CAST(s.bins_after * 64 AS DOUBLE) END AS occupancy
    FROM steps s JOIN cnt ON cnt.bucket = s.bucket"""
    )


@_q("multimodal_tile_batch_packing", _tile_pack_oracle())
def multimodal_tile_batch_packing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-fit-decreasing packing of decoded-image tile counts into
    fixed 64-tile batches, made CLOSED-FORM by bucketing each count up
    to its next power of two (clamped at the 64 capacity; oversize
    images are counted and take one full batch each — a production
    packer would split them): with every item size dividing the
    capacity and processed in decreasing order, each open bin's free
    space is always a multiple of the current size, so FFD reduces to
    the exact 7-step integer recurrence (absorbed = min(c, free div s);
    new bins = ceil(remaining mass / 64)) — provably optimal for
    divisor sizes, no per-item loop anywhere (ROADMAP_r14 #48: the
    wave-3 'document the round count' validation — the round count is
    the FIXED 7 sizes, not |images|). The graded table walks the
    packing: per size tier, the census and the bins/free/occupancy
    state after placing it. Census via the closed-form tile grid
    (multimodal_tile_index's machinery); the recurrence runs as seven
    chained 1-row crossJoins — fully lazy, nothing collects."""
    docs = load_table(spark, sf_dir, "documents")
    decoded = decode_payloads(attach_payload(docs), stub=True)
    d = decoded.select(
        (
            F.expr("(cast(width as bigint) + 15) div 16")
            * F.expr("(cast(height as bigint) + 15) div 16")
        ).alias("n")
    )
    bucket = (
        F.when(F.col("n") > 32, 64)
        .when(F.col("n") > 16, 32)
        .when(F.col("n") > 8, 16)
        .when(F.col("n") > 4, 8)
        .when(F.col("n") > 2, 4)
        .when(F.col("n") > 1, 2)
        .otherwise(1)
        .cast("bigint")
    )
    b = d.select(
        bucket.alias("bucket"),
        F.when(F.col("n") > 64, 1).otherwise(0).alias("oversize"),
    )
    g = b.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("c"),
        F.sum("oversize").cast("bigint").alias("ov"),
    )
    spine = local_frame(spark, [(s,) for s in _PACK_SIZES], "bucket long")
    cnt = (
        spine.join(F.broadcast(g), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
            F.coalesce("ov", F.lit(0)).cast("bigint").alias("ov"),
        )
        .localCheckpoint(eager=True)
    )
    state = spark.range(1).select(
        F.lit(0).cast("bigint").alias("bins"),
        F.lit(0).cast("bigint").alias("free"),
    )
    steps = []
    for sz in _PACK_SIZES:
        row = cnt.filter(F.col("bucket") == sz).select("c")
        st = state.crossJoin(F.broadcast(row)).select(
            "bins",
            "free",
            "c",
            F.expr(f"least(c, free div {sz})").alias("absorbed"),
        )
        st = st.select(
            "bins",
            "free",
            "c",
            "absorbed",
            F.expr(f"((c - absorbed) * {sz} + 63) div 64").alias("nb"),
        )
        state = st.select(
            (F.col("bins") + F.col("nb")).cast("bigint").alias("bins"),
            (
                F.col("free")
                - F.col("absorbed") * sz
                + F.col("nb") * 64
                - (F.col("c") - F.col("absorbed")) * sz
            )
            .cast("bigint")
            .alias("free"),
        )
        steps.append(
            state.select(
                F.lit(sz).cast("bigint").alias("tile_bucket"),
                F.col("bins").alias("bins_after"),
                F.col("free").alias("free_after"),
            )
        )
    walk = steps[0]
    for s in steps[1:]:
        walk = walk.unionByName(s)
    used = F.col("bins_after") * 64 - F.col("free_after")
    return walk.join(
        F.broadcast(cnt.withColumnRenamed("bucket", "tile_bucket")),
        "tile_bucket",
    ).select(
        "tile_bucket",
        F.col("c").alias("n_images"),
        F.col("ov").alias("n_oversize"),
        "bins_after",
        "free_after",
        F.when(
            F.col("bins_after") > 0,
            used.cast("double") / (F.col("bins_after") * 64).cast("double"),
        ).alias("occupancy"),
    )


# --- round 15 wave-1 pre-build: resolution ladder census -------------------


@_q(
    "multimodal_resolution_ladder_census",
    """
    WITH d AS (
      SELECT doc_id,
             16 + (octet_length(encode(text)) % 240) AS w,
             16 + ((octet_length(encode(text)) // 7) % 240) AS h
      FROM documents
    ), sized AS (
      SELECT doc_id,
             GREATEST(w, h) * 4 AS long_side
      FROM d
    ), assigned AS (
      SELECT long_side,
             CASE WHEN long_side <= 384 THEN 256
                  WHEN long_side <= 640 THEN 512
                  WHEN long_side <= 896 THEN 768
                  ELSE 1024 END AS rung
      FROM sized
    )
    SELECT CAST(rung AS BIGINT) AS rung,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE long_side < rung) AS BIGINT)
             AS n_upscale,
           CAST(COUNT(*) FILTER (WHERE long_side < rung) AS DOUBLE)
             / COUNT(*) AS upscale_share
    FROM assigned GROUP BY rung
    """,
)
def multimodal_resolution_ladder_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Resolution-ladder census for aspect-bucketed training: each image
    is assigned to the NEAREST rung of the 256/512/768/1024 long-side
    ladder (midpoint ties 384/640/896 go to the smaller rung — pure
    integer thresholds, no division), and the per-rung upscale-needed
    share (long side below its rung) prices how much of the corpus a
    trainer would be inflating. Stub dims land in 16..255, so the
    census scales them x4 to a synthetic 64..1020 native long side
    spanning every rung (documented synthesis, same spirit as the
    hash-derived doc->month assignment elsewhere); the Spark side runs
    the REAL mapInPandas stub-decode path so the Arrow batch plumbing
    stays graded. Row-local arithmetic, then a bounded 4-row rollup."""
    docs = load_table(spark, sf_dir, "documents")
    decoded = decode_payloads(attach_payload(docs), stub=True)
    sized = decoded.select(
        (F.greatest(F.col("width"), F.col("height")) * 4).alias(
            "long_side"
        )
    )
    assigned = sized.select(
        "long_side",
        F.when(F.col("long_side") <= 384, 256)
        .when(F.col("long_side") <= 640, 512)
        .when(F.col("long_side") <= 896, 768)
        .otherwise(1024)
        .alias("rung"),
    )
    up = F.count(F.when(F.col("long_side") < F.col("rung"), 1))
    return assigned.groupBy(F.col("rung").cast("bigint").alias("rung")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        up.cast("bigint").alias("n_upscale"),
        (up.cast("double") / F.count("*")).alias("upscale_share"),
    )


@_q(
    "multimodal_payload_byte_simpson",
    """
    WITH chars AS (
      SELECT source,
             unicode(substring(text, pos, 1)) AS code
      FROM documents, UNNEST(range(1, LENGTH(text) + 1)) AS t(pos)
      WHERE LENGTH(text) > 0
    ), cnt AS (
      SELECT source, code, CAST(COUNT(*) AS BIGINT) AS c
      FROM chars GROUP BY source, code
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_bytes,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_bytes,
           CAST(SUM(c * c) AS BIGINT) AS sum_c2,
           CASE WHEN SUM(c) > 0 THEN
             CAST(CAST(SUM(c * c) AS BIGINT) AS DOUBLE)
             / (CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE)
                * CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE))
           END AS simpson_concentration
    FROM cnt GROUP BY source
    """,
)
def multimodal_payload_byte_simpson(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source byte-value Simpson concentration of the payload
    stream — the log-free compressibility proxy (uniform bytes ~
    1/256 reads incompressible; concentrated bytes read compressible
    text/padding): sum(c^2)/n^2 over the bounded 256-cell byte census
    per source. The payload is the documents' utf-8 bytes (the
    attach_payload contract) and the fixture is ASCII, so Spark's
    ascii() equals DuckDB's unicode() per character — the VAD
    entry's graded convention. Exact BIGINT c and c^2 sums (c <
    2^31.5 holds to ~10^9 bytes/value/source; beyond that shard
    sources first — documented); the ratio pivots each sum through
    one int64->double conversion. The char explode is row-local; the
    shuffle carries only |sources| x 256 cells."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    chars = docs.select(
        "source",
        F.explode(F.sequence(F.lit(1), F.length("text"))).alias("pos"),
        "text",
    ).select(
        "source",
        F.ascii(F.expr("substring(text, pos, 1)")).alias("code"),
    )
    cnt = chars.groupBy("source", "code").agg(
        F.count("*").cast("bigint").alias("c")
    )
    n = F.sum("c").cast("bigint")
    c2 = F.sum(F.col("c") * F.col("c")).cast("bigint")
    return cnt.groupBy("source").agg(
        n.alias("n_bytes"),
        F.count("*").cast("bigint").alias("n_distinct_bytes"),
        c2.alias("sum_c2"),
        F.when(
            n > 0,
            c2.cast("double") / (n.cast("double") * n.cast("double")),
        ).alias("simpson_concentration"),
    )
