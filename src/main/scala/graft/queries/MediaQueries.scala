package graft
package queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.rd
import graft.operators.{Dedup, Multimodal}

/** The registry's media queries, each declared with its DuckDB oracle:
  * image, audio and video decode, hashing and dedup. */
object MediaQueries {

  lazy val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_media_decode", (s, dir) => {
      // REAL codec end-to-end (round 17): synthesize one genuine grayscale
      // PNG per document (real ImageIO encode), decode it back through the
      // real javax.imageio kernel in batched mapPartitions, and emit pixel
      // features. Pixel content is a closed-form function of doc_id
      // (Multimodal.synthGray), so the SQL oracle verifies the decoded
      // width/height/pixel-sum/mean EXACTLY — the decode path is no longer
      // a deterministic fake, and it is still hash-pinned
      Multimodal.decodeFeatures(
          Multimodal.encodeSyntheticPng(rd(s, dir, "documents"), "doc_id"))
        .toDF().orderBy("media_id")
    },
      """WITH m AS (
           SELECT doc_id AS media_id,
             CAST(8 + doc_id % 9 AS INT) AS width,
             CAST(8 + (doc_id // 9) % 9 AS INT) AS height
           FROM documents),
         px AS (
           SELECT media_id, width, height,
             unnest(range(0, width * height)) AS i
           FROM m),
         g AS (
           SELECT media_id, width, height,
             sum((i % width + 31 * (i // width) + media_id) % 256) AS ps
           FROM px GROUP BY media_id, width, height)
         SELECT media_id, width, height,
           round(CAST(ps AS DOUBLE) / (width * height), 6) AS mean_intensity,
           CAST(ps AS BIGINT) AS pixel_sum
         FROM g ORDER BY media_id"""),
    QuerySpec("q_image_dhash", (s, dir) =>
      // 64-bit perceptual dHash through the REAL codec path: genuine
      // 18×16 PNGs (grouped multiplicative pixel law), ImageIO decode,
      // integer NN 9×8 grid, gradient bits — the oracle replays the whole
      // chain through the pixel law bit for bit
      Multimodal.imageDHash(
          Multimodal.encodeSyntheticPngGroups(rd(s, dir, "documents"),
            "doc_id"))
        .orderBy("media_id"),
      // closed-form replay of the synthetic-PNG pixel law
      // (Multimodal.synthDims/synthGray): the engine renders REAL PNGs from
      // this law and decodes them with the real javax.imageio codec — the
      // oracle recomputes what a correct decode must see, pixel by pixel
      ImageDHashOracle),
    QuerySpec("q_image_dedup", (s, dir) =>
      // image near-dup dedup — the missing image-side dedup modality:
      // dHash signatures into the Manku banded hamming search (text
      // SimHash machinery reused; never all-pairs), keep-min survivors.
      // The fixture plants groups of four (one-pixel perturbations,
      // hamming ≤ 4 intra-group vs ~32 across), so each group keeps its
      // smallest id; the oracle replays hash + ALL-pairs hamming (its
      // corpus is test-sized) — pigeonhole completeness makes banding ≡
      // all-pairs at hamming ≤ 6
      Dedup.imageDedupFromHashes(
          Multimodal.imageDHash(
            Multimodal.encodeSyntheticPngGroups(rd(s, dir, "documents"),
              "doc_id")),
          "media_id", "dhash", maxHamming = 6)
        .orderBy("media_id"), ImageDedupOracle),
    QuerySpec("q_image_dedup_wide", (s, dir) =>
      // the corpus-SCALED image dedup profile: 120-bit wide dHash (16×8
      // grid) through the two-long Manku banding — same hamming ≤ 6
      // budget, ~17-bit band buckets instead of the 64-bit profile's
      // 9-bit ones (the signature-width law, measured at 100x). Same
      // keep-min survivors, all-pairs-replayed by the oracle
      Dedup.imageDedupFromHashesWide(
          Multimodal.imageDHashWide(
            Multimodal.encodeSyntheticPngGroups(rd(s, dir, "documents"),
              "doc_id")),
          "media_id", maxHamming = 6)
        .orderBy("media_id"), ImageDedupWideOracle),
    QuerySpec("q_image_store", (s, dir) => {
      // the IMAGE member of the incremental store family: banded wide
      // dHashes persisted bucketed on band_bits, new batch probed without
      // reshuffling the store. Split is id mod 8: even groups-of-4 seed
      // their first two members (their probed members 2,3 land within
      // hamming ≤ 4 of a stored group-mate and drop); odd groups are
      // unseeded and survive whole — both outcomes exercised, replayed by
      // the oracle as all-pairs probe-vs-seed hamming
      val hashes = Multimodal.imageDHashWide(
          Multimodal.encodeSyntheticPngGroups(rd(s, dir, "documents"),
            "doc_id"))
        .localCheckpoint()
      Dedup.writeWideHashStore(
        hashes.filter(pmod(col("media_id"), lit(8)) < 2),
        "media_id", "graft_img_store", "image_dhash", maxHamming = 6,
        nBuckets = 32)
      Dedup.wideHashDedupAgainst(
          hashes.filter(pmod(col("media_id"), lit(8)) >= 2),
          "media_id", "graft_img_store", "image_dhash", maxHamming = 6,
          updateStore = false)
        .orderBy("media_id")
    }, ImageStoreOracle),
    QuerySpec("q_audio_store", (s, dir) => {
      // the AUDIO member of the incremental store family — the q_image_store
      // seed/probe split (id mod 8: even groups-of-4 seed members 0,1;
      // their probed members 2,3 self-group-match and drop; odd groups are
      // unseeded and survive whole) over energy-envelope hashes through the
      // SAME generic wide-hash store engine; oracle = all-pairs
      // probe-vs-seed hamming over the audio chain
      val hashes = Multimodal.audioEnergyHashWide(
          Multimodal.encodeSyntheticWavGroups(rd(s, dir, "documents"),
            "doc_id"))
        .localCheckpoint()
      Dedup.writeWideHashStore(
        hashes.filter(pmod(col("media_id"), lit(8)) < 2),
        "media_id", "graft_aud_store", "audio_ehash", maxHamming = 6,
        nBuckets = 32)
      Dedup.wideHashDedupAgainst(
          hashes.filter(pmod(col("media_id"), lit(8)) >= 2),
          "media_id", "graft_aud_store", "audio_ehash", maxHamming = 6,
          updateStore = false)
        .orderBy("media_id")
    }, AudioStoreOracle),
    QuerySpec("q_video_store", (s, dir) => {
      // the VIDEO member of the incremental store family: banded PER-FRAME
      // wide dHashes persisted with their clip id (__sid — the probe's
      // ≥ min(3, n_frames) vote needs per-stored-clip match counts), same
      // seed/probe split; a probed clip drops when ≥ 3 of its 4 frames
      // match one stored clip at the same index within hamming 6. Oracle
      // replays frame-aligned all-pairs hamming + the vote
      val hashes = Multimodal.videoDHashWide(
          Multimodal.encodeSyntheticAviGroups(rd(s, dir, "documents"),
            "doc_id"),
          everyK = 1)
        .localCheckpoint()
      Dedup.writeVideoHashStore(
        hashes.filter(pmod(col("media_id"), lit(8)) < 2),
        "media_id", "graft_vid_store", maxHamming = 6, nBuckets = 32)
      Dedup.videoDedupAgainst(
          hashes.filter(pmod(col("media_id"), lit(8)) >= 2),
          "media_id", "graft_vid_store", maxHamming = 6,
          minMatchedFrames = 3, updateStore = false)
        .orderBy("media_id")
    }, VideoStoreOracle),
    QuerySpec("q_video_dedup", (s, dir) =>
      // VIDEO clip-level near-dup dedup — aligned-copy detection: per
      // sampled frame a wide dHash (real container parse + per-frame
      // decode), clips match when ≥ 3 of 4 frames agree at the same index
      // within hamming 6. The fixture scrambles frame 0 of non-base
      // members (exactly 3 matching frames), so the threshold is
      // exercised, not vacuous; oracle replays per-frame law → hashes →
      // frame-aligned pair counts
      Dedup.videoDedupFromFrameHashes(
          Multimodal.videoDHashWide(
            Multimodal.encodeSyntheticAviGroups(rd(s, dir, "documents"),
              "doc_id"),
            everyK = 1),
          "media_id", maxHamming = 6, minMatchedFrames = 3)
        .orderBy("media_id"), VideoDedupOracle),
    QuerySpec("q_video_dedup_scaled", (s, dir) =>
      // the knob-HONEST video profile: vote threshold scaled to clip
      // length (ceil(3/4 · min frames) per pair) over a GROUP-VARYING
      // length fixture (3/4/5-frame groups) — 3-frame group members
      // survive (2 matched < 3) while 4/5-frame members drop, so the
      // scaled threshold is exercised in both directions, not vacuous
      Dedup.videoDedupFromFrameHashesFrac(
          Multimodal.videoDHashWide(
            Multimodal.encodeSyntheticAviGroupsVar(rd(s, dir, "documents"),
              "doc_id"),
            everyK = 1),
          "media_id", maxHamming = 6, matchFrac = 0.75)
        .orderBy("media_id"), VideoDedupScaledOracle),
    QuerySpec("q_audio_dedup", (s, dir) =>
      // AUDIO near-dup dedup — the last dedup-less modality closed: real
      // RIFF/WAVE clips (grouped quadratic PCM law), energy-envelope
      // gradient hash over 121 windows, the SAME modality-agnostic
      // wide-hash banding engine as images (never all-pairs, mass-
      // guarded); oracle replays decode→energies→bits→pack→all-pairs
      Dedup.wideHashDedup(
          Multimodal.audioEnergyHashWide(
            Multimodal.encodeSyntheticWavGroups(rd(s, dir, "documents"),
              "doc_id")),
          "media_id", maxHamming = 6, fn = "audioDedup")
        .orderBy("media_id"), AudioDedupOracle),
    QuerySpec("q_media_meta", (s, dir) =>
      Multimodal.metadataStats(
        Multimodal.asMedia(rd(s, dir, "documents"), "doc_id", "text"))
        .orderBy("kind"),
      """SELECT 'image' AS kind, count(*) AS n,
           CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
           round(CAST(sum(strlen(text)) AS DOUBLE) / count(*), 4) AS avg_bytes
         FROM documents"""),
    QuerySpec("q_frame_sample", (s, dir) => {
      // REAL video end-to-end (round 18, retiring the last fake kernel):
      // synthesize one genuine MPNG-in-AVI clip per document (real RIFF
      // container, real ImageIO-encoded PNG frames), parse the container,
      // keep every 2nd frame, and decode ONLY the kept frames. Frame
      // content follows the closed-form law (synthGray(id + 97f)), so the
      // SQL oracle verifies sampled frame numbers, decoded dims, and
      // per-frame pixel sums EXACTLY
      Multimodal.videoFrames(
          Multimodal.encodeSyntheticAvi(rd(s, dir, "documents"), "doc_id"),
          everyK = 2)
        .toDF().orderBy("media_id", "frame_no")
    },
      // the video oracle replays container-parse ∘ every-2nd-sample ∘
      // PNG-decode through the frame law: clip id has 2 + id mod 4 frames at
      // the synthDims(id) dimensions, frame f pixel (x, y) =
      // (x + 31y + id + 97f) mod 256 — PNG frames are lossless, so decoded
      // pixel sums must match the law exactly (no tolerance)
      """WITH m AS (
           SELECT doc_id AS media_id,
             CAST(8 + doc_id % 9 AS INT) AS w,
             CAST(8 + (doc_id // 9) % 9 AS INT) AS h,
             CAST(2 + doc_id % 4 AS BIGINT) AS nf
           FROM documents),
         f AS (
           SELECT media_id, w, h, unnest(range(0, nf)) AS f
           FROM m),
         px AS (
           SELECT media_id, w, h, f, unnest(range(0, w * h)) AS i
           FROM f WHERE f % 2 = 0),
         g AS (
           SELECT media_id, w, h, f,
             sum((i % w + 31 * (i // w) + media_id + 97 * f) % 256) AS ps
           FROM px GROUP BY media_id, w, h, f)
         SELECT media_id, CAST(f AS INT) AS frame_no, w AS width,
           h AS height, CAST(ps AS BIGINT) AS pixel_sum
         FROM g ORDER BY media_id, frame_no"""),
    QuerySpec("q_media_resize", (s, dir) => {
      // REAL resize end-to-end (round 17): real PNGs, decoded and
      // nearest-neighbor-resampled to 6x10 by the real javax.imageio
      // kernel, re-encoded, decoded AGAIN for features — the oracle
      // replays the exact NN source-pixel mapping (x·w div 6, y·h div 10)
      // through the synthetic pixel law, so both codec passes and the
      // resample arithmetic are verified pixel-exactly
      Multimodal.decodeFeatures(
          Multimodal.resizeImages(
            Multimodal.encodeSyntheticPng(rd(s, dir, "documents"), "doc_id"),
            targetW = 6, targetH = 10))
        .toDF().orderBy("media_id")
    },
      // the resize oracle replays decode∘NN-resample∘decode through the same
      // pixel law: target (x, y) reads source (x·w div 6, y·h div 10) — the
      // exact integer mapping Multimodal.resizeImages applies — so both
      // real-codec passes AND the resample arithmetic must agree pixel-wise
      """WITH m AS (
           SELECT doc_id AS media_id,
             CAST(8 + doc_id % 9 AS INT) AS w,
             CAST(8 + (doc_id // 9) % 9 AS INT) AS h
           FROM documents),
         px AS (
           SELECT media_id, w, h, unnest(range(0, 60)) AS i
           FROM m),
         g AS (
           SELECT media_id,
             sum((((i % 6) * w // 6)
                  + 31 * ((i // 6) * h // 10) + media_id) % 256) AS ps
           FROM px GROUP BY media_id)
         SELECT media_id, CAST(6 AS INT) AS width, CAST(10 AS INT) AS height,
           round(CAST(ps AS DOUBLE) / 60, 6) AS mean_intensity,
           CAST(ps AS BIGINT) AS pixel_sum
         FROM g ORDER BY media_id"""),
    QuerySpec("q_audio_decode", (s, dir) => {
      // REAL audio codec end-to-end (round 17): genuine RIFF/WAVE clips
      // (javax.sound.sampled encode) decoded by the real audio stack;
      // clip content is the closed-form PCM law (Multimodal.synthPcm), so
      // the oracle verifies rate/channels/length/sum/peak EXACTLY
      Multimodal.decodeAudioFeatures(
          Multimodal.encodeSyntheticWav(rd(s, dir, "documents"), "doc_id"))
        .toDF().orderBy("media_id")
    },
      // closed-form replay of the synthetic PCM law (Multimodal.synthPcm):
      // n = 64 + id mod 193 samples, sample i = (17i + 31·id) mod 4001 −
      // 2000. mean_sample replays the Scala side's floor(x·1e6 + 0.5) rule
      // LITERALLY (not round(): means are signed here, and SQL round() is
      // half-away-from-zero on negatives where the house rule is
      // half-toward-+∞ — identical double op sequence instead)
      """WITH m AS (
           SELECT doc_id AS media_id,
             CAST(64 + doc_id % 193 AS BIGINT) AS n
           FROM documents),
         px AS (
           SELECT media_id, n, unnest(range(0, n)) AS i
           FROM m),
         g AS (
           SELECT media_id, n,
             sum((17 * i + 31 * media_id) % 4001 - 2000) AS ss,
             max(abs((17 * i + 31 * media_id) % 4001 - 2000)) AS pk
           FROM px GROUP BY media_id, n)
         SELECT media_id, CAST(8000 AS INT) AS sample_rate,
           CAST(1 AS INT) AS channels, n AS n_samples,
           CAST(ss AS BIGINT) AS sample_sum, CAST(pk AS INT) AS peak,
           floor(CAST(ss AS DOUBLE) / n * 1000000.0 + 0.5) / 1000000.0
             AS mean_sample
         FROM g ORDER BY media_id"""),
    QuerySpec("q_audio_frames", (s, dir) => {
      // REAL windowed frame extraction (round 17): hop-advanced analysis
      // windows (frameLen 32, hop 16 — 50% overlap, the speech-feature
      // shape) over really-decoded WAV clips; per-frame integer sums and
      // peaks replay exactly in SQL
      Multimodal.audioFrames(
          Multimodal.encodeSyntheticWav(rd(s, dir, "documents"), "doc_id"),
          frameLen = 32, hop = 16)
        .toDF().orderBy("media_id", "frame_no")
    },
      // the frame oracle replays the hop/window law over the same PCM law:
      // frame f covers samples [16f, 16f + 32), emitted while it fits
      // ((n - 32) // 16 + 1 frames; every fixture clip has n >= 64)
      """WITH m AS (
           SELECT doc_id AS media_id,
             CAST(64 + doc_id % 193 AS BIGINT) AS n
           FROM documents),
         f AS (
           SELECT media_id, unnest(range(0, (n - 32) // 16 + 1)) AS f
           FROM m),
         s AS (
           SELECT media_id, f, unnest(range(f * 16, f * 16 + 32)) AS i
           FROM f),
         g AS (
           SELECT media_id, f,
             sum((17 * i + 31 * media_id) % 4001 - 2000) AS ss,
             max(abs((17 * i + 31 * media_id) % 4001 - 2000)) AS pk
           FROM s GROUP BY media_id, f)
         SELECT media_id, CAST(f AS INT) AS frame_no,
           CAST(f * 16 AS BIGINT) AS start_sample,
           CAST(ss AS BIGINT) AS sample_sum, CAST(pk AS INT) AS peak
         FROM g ORDER BY media_id, frame_no""")
  )

  /** the q_image_* oracle chain: replay of encodeSyntheticPngGroups'
    * grouped multiplicative pixel law through the 9×8 NN sampling (source
    * pixel (2x, 2y) of the 18×16 raster — the same integer mapping the
    * Scala kernel applies) into gradient bits and the packed 64-bit
    * dHash. Bit 63 is the BIGINT sign bit: DuckDB refuses 1 << 63, so it
    * lands as the Long.MinValue literal (same two's-complement value the
    * JVM shift produces). */
  private val ImageDHashChainSql: String =
    """im AS (
         SELECT doc_id AS media_id,
           CAST(doc_id % 4 AS BIGINT) AS mm,
           2 * (((doc_id - doc_id % 4) * 2654435761) % 127) + 1 AS kk,
           ((doc_id - doc_id % 4) * 40503) % 251 AS cc,
           ((doc_id - doc_id % 4) * 69069) % 256 AS k3
         FROM documents),
       ig AS (
         SELECT media_id, x, y,
           ((2*x + 36*y + 1) * (2*x + 36*y + 1) * kk
            + (2*x + 36*y + 1) * cc + (2*y) * (2*y) * k3
            + CASE WHEN x = mm AND y = mm THEN 128 ELSE 0 END) % 256 AS v
         FROM im, range(0, 9) rx(x), range(0, 8) ry(y)),
       ib AS (
         SELECT a.media_id, a.y * 8 + a.x AS bit
         FROM ig a JOIN ig c ON a.media_id = c.media_id AND c.y = a.y
           AND c.x = a.x + 1
         WHERE a.x < 8 AND a.v < c.v),
       ihash AS (
         SELECT im.media_id,
           coalesce(bit_or(CASE WHEN ib.bit = 63
               THEN CAST(-9223372036854775808 AS BIGINT)
               ELSE CAST(1 AS BIGINT) << ib.bit END), CAST(0 AS BIGINT))
             AS dhash
         FROM im LEFT JOIN ib USING (media_id) GROUP BY im.media_id)"""

  private val ImageDHashOracle: String =
    s"""WITH $ImageDHashChainSql
       SELECT media_id, CAST(dhash AS BIGINT) AS dhash
       FROM ihash ORDER BY media_id"""

  /** q_image_dedup's oracle verifies the BANDED search against ALL-pairs
    * hamming (affordable at the oracle's test-sized corpus): pigeonhole
    * completeness means the Spark banding must land on exactly this
    * survivor set. */
  private val ImageDedupOracle: String =
    s"""WITH $ImageDHashChainSql,
       ip AS (
         SELECT b.media_id AS id_b
         FROM ihash a JOIN ihash b ON a.media_id < b.media_id
         WHERE bit_count(xor(a.dhash, b.dhash)) <= 6)
       SELECT media_id FROM ihash
       WHERE media_id NOT IN (SELECT id_b FROM ip)
       ORDER BY media_id"""

  /** q_image_dedup_wide's oracle: the 16×8 grid's NN source is
    * ((x·18) // 16, 2y), bits pack into the (lo: 0–59, hi: 60–119)
    * two-long layout (every shift < 60 — no sign-bit workaround needed),
    * and the survivor rule replays as all-pairs two-long hamming. */
  /** the WIDE (16×8 grid, 120-bit) hash chain, ending at
    * `iwh (media_id, lo, hi)` — shared by q_image_dedup_wide and
    * q_image_store. */
  private[queries] val ImageWideHashChainSql: String =
    """im AS (
         SELECT doc_id AS media_id,
           CAST(doc_id % 4 AS BIGINT) AS mm,
           2 * (((doc_id - doc_id % 4) * 2654435761) % 127) + 1 AS kk,
           ((doc_id - doc_id % 4) * 40503) % 251 AS cc,
           ((doc_id - doc_id % 4) * 69069) % 256 AS k3
         FROM documents),
       iw AS (
         SELECT media_id, x, y,
           (((x*18)//16 + 36*y + 1) * ((x*18)//16 + 36*y + 1) * kk
            + ((x*18)//16 + 36*y + 1) * cc + (2*y) * (2*y) * k3
            + CASE WHEN (x*18)//16 = 2*mm AND y = mm THEN 128 ELSE 0 END)
             % 256 AS v
         FROM im, range(0, 16) rx(x), range(0, 8) ry(y)),
       iwb AS (
         SELECT a.media_id, a.y * 15 + a.x AS bit
         FROM iw a JOIN iw c ON a.media_id = c.media_id AND c.y = a.y
           AND c.x = a.x + 1
         WHERE a.x < 15 AND a.v < c.v),
       iwh AS (
         SELECT im.media_id,
           coalesce(bit_or(CASE WHEN bit < 60
               THEN CAST(1 AS BIGINT) << bit END), CAST(0 AS BIGINT)) AS lo,
           coalesce(bit_or(CASE WHEN bit >= 60
               THEN CAST(1 AS BIGINT) << (bit - 60) END), CAST(0 AS BIGINT))
             AS hi
         FROM im LEFT JOIN iwb USING (media_id) GROUP BY im.media_id)"""

  private val ImageDedupWideOracle: String =
    s"""WITH $ImageWideHashChainSql,
       iwp AS (
         SELECT b.media_id AS id_b
         FROM iwh a JOIN iwh b ON a.media_id < b.media_id
         WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 6)
       SELECT media_id FROM iwh
       WHERE media_id NOT IN (SELECT id_b FROM iwp)
       ORDER BY media_id"""

  /** q_image_store's oracle: the probe slice against the seed slice as
    * all-pairs two-long hamming — banding completeness (pigeonhole at the
    * store's persisted band layout) makes the Spark probe ≡ this. */
  private val ImageStoreOracle: String =
    s"""WITH $ImageWideHashChainSql,
       seedh AS (SELECT * FROM iwh WHERE media_id % 8 < 2),
       newh AS (SELECT * FROM iwh WHERE media_id % 8 >= 2),
       dropd AS (
         SELECT DISTINCT n.media_id
         FROM newh n JOIN seedh s
           ON bit_count(xor(n.lo, s.lo)) + bit_count(xor(n.hi, s.hi)) <= 6)
       SELECT media_id FROM newh
       WHERE media_id NOT IN (SELECT media_id FROM dropd)
       ORDER BY media_id"""

  /** the audio energy-hash chain (grouped PCM law → 16-sample window
    * energies → gradient bits → two-long pack), ending at
    * `ah (media_id, lo, hi)` — shared by q_audio_dedup and q_audio_store. */
  private val AudioWideHashChainSql: String =
    """am AS (
         SELECT doc_id AS media_id, CAST(doc_id % 4 AS BIGINT) AS mm,
           2 * (((doc_id - doc_id % 4) * 2654435761) % 127) + 1 AS kk,
           ((doc_id - doc_id % 4) * 40503) % 251 AS cc
         FROM documents),
       ae AS (
         SELECT media_id, i // 16 AS w,
           sum(abs(CASE WHEN i = mm * 16 THEN 2000
               ELSE ((i+1)*(i+1)*kk + (i+1)*cc) % 4001 - 2000 END)) AS e
         FROM am, range(0, 1936) r(i)
         GROUP BY media_id, w),
       ab AS (
         SELECT a.media_id, a.w AS bit
         FROM ae a JOIN ae b ON b.media_id = a.media_id AND b.w = a.w + 1
         WHERE a.w < 120 AND a.e < b.e),
       ah AS (
         SELECT am.media_id,
           coalesce(bit_or(CASE WHEN bit < 60
               THEN CAST(1 AS BIGINT) << bit END), CAST(0 AS BIGINT)) AS lo,
           coalesce(bit_or(CASE WHEN bit >= 60
               THEN CAST(1 AS BIGINT) << (bit - 60) END), CAST(0 AS BIGINT))
             AS hi
         FROM am LEFT JOIN ab USING (media_id) GROUP BY am.media_id)"""

  /** q_audio_dedup's oracle: the grouped PCM law through 16-sample window
    * energies into gradient bits, two-long pack, all-pairs hamming — the
    * audio mirror of [[ImageDedupWideOracle]]. */
  private val AudioDedupOracle: String =
    s"""WITH $AudioWideHashChainSql,
       ap AS (
         SELECT b.media_id AS id_b
         FROM ah a JOIN ah b ON a.media_id < b.media_id
         WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 6)
       SELECT media_id FROM ah
       WHERE media_id NOT IN (SELECT id_b FROM ap)
       ORDER BY media_id"""

  /** q_audio_store's oracle: the probe slice against the seed slice as
    * all-pairs two-long hamming over the audio chain — banding completeness
    * makes the Spark probe ≡ this (the [[ImageStoreOracle]] argument at the
    * audio modality). */
  private val AudioStoreOracle: String =
    s"""WITH $AudioWideHashChainSql,
       seedh AS (SELECT * FROM ah WHERE media_id % 8 < 2),
       newh AS (SELECT * FROM ah WHERE media_id % 8 >= 2),
       dropd AS (
         SELECT DISTINCT n.media_id
         FROM newh n JOIN seedh s
           ON bit_count(xor(n.lo, s.lo)) + bit_count(xor(n.hi, s.hi)) <= 6)
       SELECT media_id FROM newh
       WHERE media_id NOT IN (SELECT media_id FROM dropd)
       ORDER BY media_id"""

  /** q_video_dedup's oracle: per-frame grouped pixel law (frame-0
    * scramble for non-base members, per-frame phase c + 11f) through the
    * wide-hash grid into frame-aligned pair matching — dup ⇔ ≥ 3 of 4
    * frames within hamming 6. */
  /** the per-frame video hash chain (grouped pixel law with frame-0
    * scramble + per-frame phase, 16×8 wide-dHash grid, two-long pack),
    * ending at `vh (media_id, f, lo, hi)` — shared by q_video_dedup and
    * q_video_store. */
  private val VideoWideHashChainSql: String =
    """vm AS (
         SELECT doc_id AS media_id, CAST(doc_id % 4 AS BIGINT) AS mm,
           2 * (((doc_id - doc_id % 4) * 2654435761) % 127) + 1 AS kk,
           ((doc_id - doc_id % 4) * 40503) % 251 AS cc,
           ((doc_id - doc_id % 4) * 69069) % 256 AS k3
         FROM documents),
       vfp AS (
         SELECT media_id, mm, k3, f,
           CASE WHEN f = 0 AND mm > 0 THEN kk + 2*mm ELSE kk END AS kf,
           cc + 11*f AS cf
         FROM vm, range(0, 4) rf(f)),
       vw AS (
         SELECT media_id, f, x, y,
           (((x*18)//16 + 36*y + 1) * ((x*18)//16 + 36*y + 1) * kf
            + ((x*18)//16 + 36*y + 1) * cf + (2*y)*(2*y)*k3
            + CASE WHEN (x*18)//16 = 2*mm AND y = mm THEN 128 ELSE 0 END)
             % 256 AS v
         FROM vfp, range(0, 16) rx(x), range(0, 8) ry(y)),
       vb AS (
         SELECT a.media_id, a.f, a.y * 15 + a.x AS bit
         FROM vw a JOIN vw c ON a.media_id = c.media_id AND c.f = a.f
           AND c.y = a.y AND c.x = a.x + 1
         WHERE a.x < 15 AND a.v < c.v),
       vh AS (
         SELECT q.media_id, q.f,
           coalesce(bit_or(CASE WHEN bit < 60
               THEN CAST(1 AS BIGINT) << bit END), CAST(0 AS BIGINT)) AS lo,
           coalesce(bit_or(CASE WHEN bit >= 60
               THEN CAST(1 AS BIGINT) << (bit - 60) END), CAST(0 AS BIGINT))
             AS hi
         FROM (SELECT DISTINCT media_id, f FROM vfp) q
         LEFT JOIN vb ON vb.media_id = q.media_id AND vb.f = q.f
         GROUP BY q.media_id, q.f)"""

  /** q_video_store's oracle: probe clips against seed clips as
    * frame-aligned all-pairs hamming with the ≥ least(3, n_frames) vote —
    * every fixture clip has 4 sampled frames, so the clamp resolves to 3
    * here (the short-clip arm is exercised by OperatorsSpec + the
    * streaming replay test, not the oracle). */
  private val VideoStoreOracle: String =
    s"""WITH $VideoWideHashChainSql,
       seedh AS (SELECT * FROM vh WHERE media_id % 8 < 2),
       newh AS (SELECT * FROM vh WHERE media_id % 8 >= 2),
       vsp AS (
         SELECT n.media_id, s.media_id AS sid, count(*) AS mf
         FROM newh n JOIN seedh s ON n.f = s.f
         WHERE bit_count(xor(n.lo, s.lo)) + bit_count(xor(n.hi, s.hi)) <= 6
         GROUP BY 1, 2),
       dropd AS (SELECT DISTINCT media_id FROM vsp WHERE mf >= 3)
       SELECT media_id FROM (SELECT DISTINCT media_id FROM newh)
       WHERE media_id NOT IN (SELECT media_id FROM dropd)
       ORDER BY media_id"""

  /** q_video_dedup_scaled's oracle: the grouped pixel law with
    * GROUP-VARYING frame count nf = 3 + (group index) % 3, frame-aligned
    * pair matching, and the fraction vote — dup ⇔ matched ≥
    * ceil(0.75 · min(nf_a, nf_b)). 0.75 is dyadic and nf ≤ 5, so the
    * product is IEEE-exact in both engines. */
  private val VideoDedupScaledOracle: String =
    """WITH vsm AS (
         SELECT doc_id AS media_id, CAST(doc_id % 4 AS BIGINT) AS mm,
           2 * (((doc_id - doc_id % 4) * 2654435761) % 127) + 1 AS kk,
           ((doc_id - doc_id % 4) * 40503) % 251 AS cc,
           ((doc_id - doc_id % 4) * 69069) % 256 AS k3,
           3 + ((doc_id - doc_id % 4) // 4) % 3 AS nf
         FROM documents),
       vsfp AS (
         SELECT media_id, mm, k3, f,
           CASE WHEN f = 0 AND mm > 0 THEN kk + 2*mm ELSE kk END AS kf,
           cc + 11*f AS cf
         FROM vsm, range(0, 5) rf(f) WHERE f < nf),
       vsw AS (
         SELECT media_id, f, x, y,
           (((x*18)//16 + 36*y + 1) * ((x*18)//16 + 36*y + 1) * kf
            + ((x*18)//16 + 36*y + 1) * cf + (2*y)*(2*y)*k3
            + CASE WHEN (x*18)//16 = 2*mm AND y = mm THEN 128 ELSE 0 END)
             % 256 AS v
         FROM vsfp, range(0, 16) rx(x), range(0, 8) ry(y)),
       vsb AS (
         SELECT a.media_id, a.f, a.y * 15 + a.x AS bit
         FROM vsw a JOIN vsw c ON a.media_id = c.media_id AND c.f = a.f
           AND c.y = a.y AND c.x = a.x + 1
         WHERE a.x < 15 AND a.v < c.v),
       vsh AS (
         SELECT q.media_id, q.f,
           coalesce(bit_or(CASE WHEN bit < 60
               THEN CAST(1 AS BIGINT) << bit END), CAST(0 AS BIGINT)) AS lo,
           coalesce(bit_or(CASE WHEN bit >= 60
               THEN CAST(1 AS BIGINT) << (bit - 60) END), CAST(0 AS BIGINT))
             AS hi
         FROM (SELECT DISTINCT media_id, f FROM vsfp) q
         LEFT JOIN vsb ON vsb.media_id = q.media_id AND vsb.f = q.f
         GROUP BY q.media_id, q.f),
       vsp AS (
         SELECT a.media_id AS id_a, b.media_id AS id_b, count(*) AS mf
         FROM vsh a JOIN vsh b ON a.media_id < b.media_id AND a.f = b.f
         WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 6
         GROUP BY 1, 2),
       vsd AS (
         SELECT DISTINCT p.id_b
         FROM vsp p JOIN vsm a ON a.media_id = p.id_a
           JOIN vsm b ON b.media_id = p.id_b
         WHERE p.mf >= ceil(0.75 * least(a.nf, b.nf)))
       SELECT media_id FROM (SELECT DISTINCT media_id FROM vsh)
       WHERE media_id NOT IN (SELECT id_b FROM vsd)
       ORDER BY media_id"""

  private val VideoDedupOracle: String =
    s"""WITH $VideoWideHashChainSql,
       vp AS (
         SELECT a.media_id AS id_a, b.media_id AS id_b, count(*) AS mf
         FROM vh a JOIN vh b ON a.media_id < b.media_id AND a.f = b.f
         WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 6
         GROUP BY 1, 2),
       vd AS (SELECT DISTINCT id_b FROM vp WHERE mf >= 3)
       SELECT media_id FROM (SELECT DISTINCT media_id FROM vh)
       WHERE media_id NOT IN (SELECT id_b FROM vd)
       ORDER BY media_id"""
}
