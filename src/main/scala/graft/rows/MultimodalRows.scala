package graft
package rows

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.pipeline.{Audio, Dedup, Multimodal, Video}

import Fixtures._
import QueryRow.row

/** Image, audio and video modalities over real codecs: decode, resample, fingerprint, near-dups. */
private[graft] object MultimodalRows {
  val rows: Seq[QueryRow] = Seq(

    // ---- multimodal: real P6 codec — decode, resize, frame-sample ----
    row("mm_features", (s, dir) =>
      Multimodal.extractFeatures(Multimodal.synthMediaTable(Tables(s, dir).documents)),
      // Mirrors buildPpm/decodePpm: the near-square P6 frame of the text bytes
      // (npix = ceil(len/3), w = ceil(sqrt(npix)), h = ceil(npix/w)) and the
      // pixel stats — zero padding is invisible to sum and (for non-empty
      // ASCII text) to max.
      """WITH b AS (SELECT doc_id, text, CAST(octet_length(encode(text)) AS BIGINT) AS len,
        |  list_transform(string_split(text, ''), c -> ord(c)) AS cps FROM documents),
        |d AS (SELECT *, CASE WHEN len = 0 THEN 0 ELSE (len + 2) // 3 END AS npix FROM b),
        |w1 AS (SELECT *, CASE WHEN npix = 0 THEN 0
        |       ELSE CAST(ceil(sqrt(CAST(npix AS DOUBLE))) AS BIGINT) END AS w FROM d),
        |w2 AS (SELECT *, CASE WHEN w = 0 THEN 0
        |       ELSE CAST(ceil(CAST(npix AS DOUBLE) / w) AS BIGINT) END AS h FROM w1)
        |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(w * h * 3 AS BIGINT) AS n_pixel_bytes,
        |  CAST(CASE WHEN len > 0 THEN list_sum(cps) ELSE 0 END AS BIGINT) AS pixel_sum,
        |  CAST(CASE WHEN len > 0 THEN list_max(cps) ELSE 0 END AS INTEGER) AS pixel_max
        |FROM w2""".stripMargin),
    row("mm_resize", (s, dir) =>
      Multimodal.extractFeatures(Multimodal.resizeMedia(
        Multimodal.synthMediaTable(Tables(s, dir).documents), factor = 2)),
      // Mirrors resizePpm(., 2) + decodePpm: nearest-neighbor sample of the
      // padded raster — output pixel p=(y,x) reads input pixel (2y, 2x); a
      // byte index past the text length is frame padding (0).
      """WITH b AS (SELECT doc_id, text, CAST(octet_length(encode(text)) AS BIGINT) AS len,
        |  list_transform(string_split(text, ''), c -> ord(c)) AS cps FROM documents),
        |d AS (SELECT *, CASE WHEN len = 0 THEN 0 ELSE (len + 2) // 3 END AS npix FROM b),
        |g1 AS (SELECT *, CASE WHEN npix = 0 THEN 0
        |       ELSE CAST(ceil(sqrt(CAST(npix AS DOUBLE))) AS BIGINT) END AS w FROM d),
        |g2 AS (SELECT *, CASE WHEN w = 0 THEN 0
        |       ELSE CAST(ceil(CAST(npix AS DOUBLE) / w) AS BIGINT) END AS h FROM g1),
        |g3 AS (SELECT *, CASE WHEN w = 0 THEN 0 ELSE (w + 1) // 2 END AS w2,
        |       CASE WHEN h = 0 THEN 0 ELSE (h + 1) // 2 END AS h2 FROM g2)
        |SELECT doc_id, CAST(w2 AS INTEGER) AS width, CAST(h2 AS INTEGER) AS height,
        |  CAST(3 * w2 * h2 AS BIGINT) AS n_pixel_bytes,
        |  CAST(coalesce(list_sum(list_transform(range(0, w2 * h2), p ->
        |    list_sum(list_transform(range(1, 4), c ->
        |      CASE WHEN 3 * (((p // w2) * 2) * w + (p % w2) * 2) + c <= len
        |           THEN cps[CAST(3 * (((p // w2) * 2) * w + (p % w2) * 2) + c AS INTEGER)]
        |           ELSE 0 END)))), 0) AS BIGINT) AS pixel_sum,
        |  CAST(coalesce(list_max(list_transform(range(0, w2 * h2), p ->
        |    list_max(list_transform(range(1, 4), c ->
        |      CASE WHEN 3 * (((p // w2) * 2) * w + (p % w2) * 2) + c <= len
        |           THEN cps[CAST(3 * (((p // w2) * 2) * w + (p % w2) * 2) + c AS INTEGER)]
        |           ELSE 0 END)))), 0) AS INTEGER) AS pixel_max
        |FROM g3""".stripMargin),
    row("mm_frames", (s, dir) =>
      Multimodal.sampleFrames(Multimodal.synthMediaTable(Tables(s, dir).documents), stride = 4),
      // Mirrors sampleFrames(., 4): every 4th raster row, per-row byte stats
      // over the zero-padded frame.
      """WITH b AS (SELECT doc_id, text, CAST(octet_length(encode(text)) AS BIGINT) AS len,
        |  list_transform(string_split(text, ''), c -> ord(c)) AS cps FROM documents),
        |d AS (SELECT *, CASE WHEN len = 0 THEN 0 ELSE (len + 2) // 3 END AS npix FROM b),
        |g1 AS (SELECT *, CASE WHEN npix = 0 THEN 0
        |       ELSE CAST(ceil(sqrt(CAST(npix AS DOUBLE))) AS BIGINT) END AS w FROM d),
        |g2 AS (SELECT *, CASE WHEN w = 0 THEN 0
        |       ELSE CAST(ceil(CAST(npix AS DOUBLE) / w) AS BIGINT) END AS h FROM g1)
        |SELECT doc_id, CAST(u.y AS INTEGER) AS frame_idx,
        |  CAST(u.fs AS BIGINT) AS frame_sum, CAST(u.fm AS INTEGER) AS frame_max
        |FROM (
        |  SELECT doc_id, unnest(list_transform(range(0, h, 4), y -> struct_pack(
        |    y := y,
        |    fs := coalesce(list_sum(list_transform(range(1, 3 * w + 1), i ->
        |          CASE WHEN 3 * y * w + i <= len THEN cps[CAST(3 * y * w + i AS INTEGER)] ELSE 0 END)), 0),
        |    fm := coalesce(list_max(list_transform(range(1, 3 * w + 1), i ->
        |          CASE WHEN 3 * y * w + i <= len THEN cps[CAST(3 * y * w + i AS INTEGER)] ELSE 0 END)), 0)))) AS u
        |  FROM g2)""".stripMargin),
    row("mm_phash", (s, dir) =>
      Multimodal.perceptualHash(Multimodal.synthMediaTable(Tables(s, dir).documents)),
      // Mirrors Multimodal.perceptualHash / phashNearDups over the shared
      // MmPhashCtes; the dups oracle is all-pairs (fine at oracle scale —
      // the Spark side proves the pigeonhole finds the identical set).
      s"""WITH $MmPhashCtes
         |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
         |  phash
         |FROM ph""".stripMargin),
    // joint-modality dedup: a pair counts only when BOTH the text and the
    // image modality agree it's a near-dup — the multimodal-pipeline rule
    // that suppresses single-modality false positives (same text, new
    // image = a re-render, not a duplicate)
    row("mm_joint_dups", (s, dir) => {
      val docs = Tables(s, dir).documents
      Dedup.minhashNearDups(docs)
        .join(Multimodal.phashNearDups(Multimodal.synthMediaTable(docs)),
          Seq("id_a", "id_b"))
        .select("id_a", "id_b", "jaccard", "hamming")
    },
      // Mirrors the joint-modality dedup: pairs that are near-dup in BOTH
      // the text (minhash) and image (wide pHash) modality — the two pair
      // CTEs are the shared oracle bodies of dedup_minhash and
      // mm_phash_dups, intersected on the pair key.
      s"""WITH $MinhashPairsCtes,
         |$MmPhashWideCtes,
         |${wideWordCtes("ge", "npix", "n_px")},
         |jd AS (${wideDupsSelect(24)})
         |SELECT m.id_a, m.id_b, m.jaccard, jd.hamming
         |FROM mh_pairs m JOIN jd ON jd.id_a = m.id_a AND jd.id_b = m.id_b""".stripMargin),
    // 256-bit wide grid hash, words as scalar columns for the hash compare
    row("mm_phash_wide", (s, dir) =>
      Multimodal.perceptualHashWide(Multimodal.synthMediaTable(Tables(s, dir).documents))
        .select(col("doc_id"), col("width"), col("height"),
          element_at(col("phw"), 1).as("w0"), element_at(col("phw"), 2).as("w1"),
          element_at(col("phw"), 3).as("w2"), element_at(col("phw"), 4).as("w3")),
      // wide twins over the 13×5 gray grid: the lag-compared words are the
      // exact wideWordCtes machinery the audio/video wide twins use
      s"""WITH $MmPhashWideCtes,
         |${wideWordCtes("ge", "npix", "n_px")}
         |SELECT f.doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
         |  w0, w1, w2, w3
         |FROM wfpt f JOIN w2 USING (doc_id)""".stripMargin),
    // image-level near-dups: Hamming ≤ 24 over the 256-bit wide grid hash
    // (pigeonhole, 25 chunks × ≥10 bits)
    row("mm_phash_dups", (s, dir) =>
      Multimodal.phashNearDups(Multimodal.synthMediaTable(Tables(s, dir).documents)),
      s"""WITH $MmPhashWideCtes,
         |${wideWordCtes("ge", "npix", "n_px")}
         |${wideDupsSelect(24)}""".stripMargin),

    // ---- audio modality: real RIFF/WAVE PCM16 codec — decode, resample,
    // chunked energy; audio_resample re-parses the rebuilt blobs, gating
    // the encode→decode round trip on every row ----
    row("audio_features", (s, dir) =>
      Audio.extractFeatures(Audio.synthAudioTable(Tables(s, dir).documents)),
      // Mirrors the Audio family over the shared AudioSmpCte. Integer-only
      // statistics (energy, peak, sign-flip zero crossings, floor-division
      // durations) so DuckDB and Spark agree bit-for-bit.
      s"""WITH $AudioSmpCte
         |SELECT doc_id, CAST(16000 AS INTEGER) AS sample_rate, n AS n_samples,
         |  (n * 1000) // 16000 AS duration_ms,
         |  CAST(coalesce(list_sum(list_transform(range(1, n + 1), i ->
         |    smp[CAST(i AS INTEGER)] * smp[CAST(i AS INTEGER)])), 0) AS BIGINT) AS sum_sq,
         |  CAST(coalesce(list_max(list_transform(range(1, n + 1), i ->
         |    abs(smp[CAST(i AS INTEGER)]))), 0) AS INTEGER) AS peak,
         |  CAST(coalesce(list_sum(list_transform(range(2, n + 1), i ->
         |    CASE WHEN smp[CAST(i - 1 AS INTEGER)] * smp[CAST(i AS INTEGER)] < 0
         |      THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings
         |FROM aw""".stripMargin),
    row("audio_resample", (s, dir) =>
      Audio.extractFeatures(Audio.resampleAudio(
        Audio.synthAudioTable(Tables(s, dir).documents), factor = 4)),
      // Mirrors resampleAudio(., 4) + extractFeatures: keep 1-based indices
      // 1, 5, 9, … (Spark's 0-based 0, 4, 8, …); rate drops 16000 → 4000.
      s"""WITH $AudioSmpCte,
         |r AS (SELECT doc_id, (n + 3) // 4 AS n2,
         |  list_transform(range(0, (n + 3) // 4),
         |    j -> smp[CAST(4 * j + 1 AS INTEGER)]) AS rsmp FROM aw)
         |SELECT doc_id, CAST(4000 AS INTEGER) AS sample_rate, n2 AS n_samples,
         |  (n2 * 1000) // 4000 AS duration_ms,
         |  CAST(coalesce(list_sum(list_transform(rsmp, s -> s * s)), 0) AS BIGINT) AS sum_sq,
         |  CAST(coalesce(list_max(list_transform(rsmp, s -> abs(s))), 0) AS INTEGER) AS peak,
         |  CAST(coalesce(list_sum(list_transform(range(2, n2 + 1), i ->
         |    CASE WHEN rsmp[CAST(i - 1 AS INTEGER)] * rsmp[CAST(i AS INTEGER)] < 0
         |      THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings
         |FROM r""".stripMargin),
    row("audio_chunks", (s, dir) =>
      Audio.chunkEnergy(Audio.synthAudioTable(Tables(s, dir).documents),
        chunkSamples = 1024),
      // Mirrors chunkEnergy(., 1024): fixed 1024-sample windows, last window
      // ragged; a zero-length clip emits no rows (range(0, 0) is empty).
      s"""WITH $AudioSmpCte
         |SELECT doc_id, CAST(u.c AS INTEGER) AS chunk_idx,
         |  CAST(u.ns AS BIGINT) AS n_samples, CAST(u.ss AS BIGINT) AS sum_sq,
         |  CAST(u.pk AS INTEGER) AS peak
         |FROM (
         |  SELECT doc_id, unnest(list_transform(range(0, (n + 1023) // 1024),
         |    c -> struct_pack(
         |      c := c,
         |      ns := least((c + 1) * 1024, n) - c * 1024,
         |      ss := coalesce(list_sum(list_transform(
         |            range(c * 1024 + 1, least((c + 1) * 1024, n) + 1),
         |            i -> smp[CAST(i AS INTEGER)] * smp[CAST(i AS INTEGER)])), 0),
         |      pk := coalesce(list_max(list_transform(
         |            range(c * 1024 + 1, least((c + 1) * 1024, n) + 1),
         |            i -> abs(smp[CAST(i AS INTEGER)]))), 0)))) AS u
         |  FROM aw)""".stripMargin),
    row("audio_fingerprint", (s, dir) =>
      Audio.audioFingerprint(Audio.synthAudioTable(Tables(s, dir).documents)),
      // Mirrors audioFingerprint / audioNearDups over the shared AudioFpCtes;
      // the dups oracle is all-pairs (fine at oracle scale — the Spark side
      // proves the pigeonhole finds the identical set).
      s"""WITH $AudioFpCtes
         |SELECT doc_id, n_samples, afp FROM afpt""".stripMargin),
    // content-defined chunking (FastCDC shape): boundaries where the
    // rolling high-byte hash ≡ 0 mod 64 — chunk manifest per clip
    row("audio_cdc_chunks", (s, dir) =>
      Audio.cdcChunks(Audio.synthAudioTable(Tables(s, dir).documents)),
      s"""WITH $AudioCdcCtes
         |SELECT doc_id, chunk_idx, start, n_chunk_samples, chunk_hash
         |FROM cseg""".stripMargin),
    // sub-file dedup: pairs sharing >= 4 content-defined chunks via the
    // df-capped chunk-hash inverted index — position-independent, unlike
    // the whole-clip contour fingerprint
    row("audio_cdc_dups", (s, dir) =>
      Audio.audioCdcDups(Audio.synthAudioTable(Tables(s, dir).documents)),
      s"""WITH $AudioCdcCtes,
         |cdd AS (SELECT DISTINCT doc_id, chunk_hash FROM cseg),
         |ckeep AS (SELECT chunk_hash FROM cdd GROUP BY 1 HAVING count(*) <= 50),
         |cind AS (SELECT doc_id, chunk_hash FROM cdd JOIN ckeep USING (chunk_hash))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(count(*) AS BIGINT) AS n_shared
         |FROM cind a JOIN cind b
         |  ON a.chunk_hash = b.chunk_hash AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 4""".stripMargin),
    // 256-bit wide contour fingerprint, words as scalar columns for the hash
    // compare (w0 is the 64-bit afp — pinned against it transitively)
    row("audio_fp_wide", (s, dir) =>
      Audio.audioFingerprintWide(Audio.synthAudioTable(Tables(s, dir).documents))
        .select(col("doc_id"), col("n_samples"),
          element_at(col("afp"), 1).as("w0"), element_at(col("afp"), 2).as("w1"),
          element_at(col("afp"), 3).as("w2"), element_at(col("afp"), 4).as("w3")),
      // Wide-fingerprint twins: the same 65-window contour compared at lags
      // 1/2/4/8 into four words; the dups twin is brute-force all-pairs over
      // the edit-augmented corpus at radius 24.
      s"""WITH ${audioContourCtes("documents")},
         |${wideWordCtes("we", "n", "n_samples")}
         |SELECT doc_id, n_samples, w0, w1, w2, w3 FROM wfpt""".stripMargin),
    // audio-level near-dups: Hamming ≤ 24 over the 256-bit wide contour
    // (pigeonhole, 25 chunks × ~10 bits) on the edit-augmented corpus —
    // each in-place edited copy must pair with its source
    row("audio_fp_dups", (s, dir) =>
      Audio.audioNearDups(Audio.synthAudioTable(nearDupCorpus(s, dir))),
      s"""WITH $NearDupCorpusCte,
         |${audioContourCtes("corpus")},
         |${wideWordCtes("we", "n", "n_samples")}
         |${wideDupsSelect(24)}""".stripMargin),

    // ---- video modality: real concatenated-P6 container (the ffmpeg
    // image2pipe ppm stream format) — frame walk + scene-change keyframes
    row("video_frames", (s, dir) =>
      Video.frameStats(Video.synthVideoTable(Tables(s, dir).documents)),
      // Mirrors the Video container walk: frame f covers text bytes
      // [f·192, min((f+1)·192, n)) — per-frame geometry recomputed with the
      // same near-square ceil arithmetic as the single-image twins; padding
      // zeros contribute nothing to sum/max (ASCII has no NUL).
      """WITH b AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n,
        |  list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT)) AS cps
        |  FROM documents),
        |fx AS (SELECT doc_id, n, cps,
        |  CAST(unnest(range(0, (n + 191) // 192)) AS BIGINT) AS f FROM b),
        |g1 AS (SELECT *, least((f + 1) * 192, n) - f * 192 AS L FROM fx),
        |g2 AS (SELECT *, (L + 2) // 3 AS npix FROM g1),
        |g3 AS (SELECT *, CAST(ceil(sqrt(CAST(npix AS DOUBLE))) AS BIGINT) AS w FROM g2),
        |g4 AS (SELECT *, CAST(ceil(CAST(npix AS DOUBLE) / w) AS BIGINT) AS h FROM g3)
        |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(coalesce(list_sum(list_transform(
        |    range(f * 192 + 1, least((f + 1) * 192, n) + 1),
        |    i -> cps[CAST(i AS INTEGER)])), 0) AS BIGINT) AS pixel_sum,
        |  CAST(coalesce(list_max(list_transform(
        |    range(f * 192 + 1, least((f + 1) * 192, n) + 1),
        |    i -> cps[CAST(i AS INTEGER)])), 0) AS INTEGER) AS pixel_max
        |FROM g4""".stripMargin),
    row("video_keyframes", (s, dir) =>
      Video.keyframes(Video.synthVideoTable(Tables(s, dir).documents),
        threshold = 6000L),
      // Mirrors keyframes(., 6000): frame 0 always emits (delta = own sum);
      // inter-frame deltas are |s_f − s_{f−1}| over the per-frame sums.
      """WITH b AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n,
        |  list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT)) AS cps
        |  FROM documents),
        |fs AS (SELECT doc_id, list_transform(range(0, (n + 191) // 192), f ->
        |    coalesce(list_sum(list_transform(
        |      range(f * 192 + 1, least((f + 1) * 192, n) + 1),
        |      i -> cps[CAST(i AS INTEGER)])), 0)) AS sums FROM b),
        |kx AS (SELECT doc_id, sums,
        |  CAST(unnest(range(0, len(sums))) AS BIGINT) AS f FROM fs),
        |kd AS (SELECT doc_id, f, sums[CAST(f + 1 AS INTEGER)] AS pixel_sum,
        |  abs(sums[CAST(f + 1 AS INTEGER)] -
        |    CASE WHEN f = 0 THEN 0 ELSE sums[CAST(f AS INTEGER)] END) AS delta
        |  FROM kx)
        |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
        |  CAST(pixel_sum AS BIGINT) AS pixel_sum, CAST(delta AS BIGINT) AS delta
        |FROM kd WHERE f = 0 OR delta > 6000""".stripMargin),
    row("video_sample", (s, dir) =>
      Video.sampleFrames(Video.synthVideoTable(Tables(s, dir).documents), k = 4),
      // Mirrors sampleFrames(., k = 4): keep frame indices ⌊i·nf/4⌋ for
      // i ∈ [0, 4), deduplicated, dropped when >= nf (empty clip → no rows);
      // pixel_sum recomputed from the text slices as in the keyframes twin.
      """WITH b AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n,
        |  list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT)) AS cps
        |  FROM documents),
        |fs AS (SELECT doc_id, list_transform(range(0, (n + 191) // 192), f ->
        |    coalesce(list_sum(list_transform(
        |      range(f * 192 + 1, least((f + 1) * 192, n) + 1),
        |      i -> cps[CAST(i AS INTEGER)])), 0)) AS sums FROM b),
        |ks AS (SELECT doc_id, sums, unnest(list_distinct(list_transform(range(0, 4),
        |    i -> (i * len(sums)) // 4))) AS f FROM fs)
        |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
        |  CAST(sums[CAST(f + 1 AS INTEGER)] AS BIGINT) AS pixel_sum
        |FROM ks WHERE f < len(sums)""".stripMargin),
    row("video_fingerprint", (s, dir) =>
      Video.videoFingerprint(Video.synthVideoTable(Tables(s, dir).documents)),
      // Mirrors videoFingerprint / videoNearDups over the shared VideoFpCtes;
      // the dups oracle is all-pairs (fine at oracle scale — the Spark side
      // proves the pigeonhole finds the identical set).
      s"""WITH $VideoFpCtes
         |SELECT doc_id, n_px, vfp FROM vfpt""".stripMargin),
    // 256-bit wide luma-contour fingerprint, words as scalar columns
    row("video_fp_wide", (s, dir) =>
      Video.videoFingerprintWide(Video.synthVideoTable(Tables(s, dir).documents))
        .select(col("doc_id"), col("n_px"),
          element_at(col("vfp"), 1).as("w0"), element_at(col("vfp"), 2).as("w1"),
          element_at(col("vfp"), 3).as("w2"), element_at(col("vfp"), 4).as("w3")),
      s"""WITH ${videoContourCtes("documents")},
         |${wideWordCtes("vwe", "npx", "n_px")}
         |SELECT doc_id, n_px, w0, w1, w2, w3 FROM wfpt""".stripMargin),
    // video-level near-dups: Hamming ≤ 24 over the 256-bit wide contour on
    // the edit-augmented corpus — fourth face of the per-modality dedup
    // family (text/image/audio/video)
    row("video_fp_dups", (s, dir) =>
      Video.videoNearDups(Video.synthVideoTable(nearDupCorpus(s, dir))),
      s"""WITH $NearDupCorpusCte,
         |${videoContourCtes("corpus")},
         |${wideWordCtes("vwe", "npx", "n_px")}
         |${wideDupsSelect(24)}""".stripMargin),
    // per-frame content hashes from the real container walk — the frame
    // is the container's natural chunk unit (no rolling boundary needed)
    row("video_frame_hashes", (s, dir) =>
      Video.frameHashes(Video.synthVideoTable(Tables(s, dir).documents)),
      // Mirrors Video.frameHashes over documents: same per-frame decoded
      // segment (slice + zero padding), same non-negative (a·31 + c) mod p
      // fold the CDC twins use.
      s"""WITH ${videoFrameCtes("documents")}
         |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), sg),
         |    (a, c) -> ((a * 31 + c) % 1000000007 + 1000000007) % 1000000007)
         |    AS frame_hash
         |FROM vseg""".stripMargin),
    // clip-reuse detection: pairs sharing identical decoded frames via
    // the df-capped frame-hash inverted index, position-independent —
    // the in-place edit leaves every later frame shared with the source
    row("video_frame_dups", (s, dir) =>
      Video.frameDups(Video.synthVideoTable(nearDupCorpus(s, dir)),
        minShared = 1),
      // Mirrors Video.frameDups(minShared=1, maxDf=50) over the augmented
      // corpus: distinct frame postings, df cap, hash-keyed pair count.
      s"""WITH $NearDupCorpusCte,
         |${videoFrameCtes("corpus")},
         |vfh AS (SELECT DISTINCT doc_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), sg),
         |    (a, c) -> ((a * 31 + c) % 1000000007 + 1000000007) % 1000000007)
         |    AS frame_hash
         |  FROM vseg),
         |vkeep AS (SELECT frame_hash FROM vfh GROUP BY 1 HAVING count(*) <= 50),
         |vind AS (SELECT doc_id, frame_hash FROM vfh JOIN vkeep USING (frame_hash))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(count(*) AS BIGINT) AS n_shared
         |FROM vind a JOIN vind b
         |  ON a.frame_hash = b.frame_hash AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 1""".stripMargin)
  )
}
