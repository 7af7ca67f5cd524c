package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** Queries, each with its DuckDB oracle, for image, audio and video feature
  * extraction and perceptual-hash near-duplicate detection over
  * `documents`.
  */
private[graft] object MultimodalQueries extends QueryDomain {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // REAL image decode, oracle-checked end-to-end: deterministic
    // gradient PNGs generated per doc_id, ENCODED with the JDK's
    // ImageIO on the executors, decoded back with the real
    // javax.imageio codec (not the stub), then mean-luminance strip
    // features from the decoded pixels. The oracle replays the
    // generator arithmetic relationally — PNG is lossless, so the
    // encode->decode roundtrip must reproduce the exact pixel values
    // or the hashes diverge.
    "q84_image_features" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val media = graft.core.Multimodal.synthesizeGradientPngs(ids)
      graft.core.Multimodal.imageGridFeatures(media, k = 4)
        .select(col("media_id").as("doc_id"), col("dim"),
          round(col("feature"), 6).as("feature"))
    }),

    // REAL audio decode, oracle-checked end-to-end (the q84 discipline
    // for sound): deterministic test tones encoded as genuine PCM WAV
    // via javax.sound.sampled on the executors, decoded back with the
    // real codec, mean-|amplitude| window features from the decoded
    // samples. PCM is lossless — the oracle replays the generator
    // arithmetic, so header parsing, sample extraction, and windowing
    // must all be exact.
    "q86_audio_features" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val media = graft.core.Multimodal.synthesizeToneWavs(ids)
      graft.core.Multimodal.audioWindowFeatures(media, k = 4)
        .select(col("media_id").as("doc_id"), col("dim"),
          round(col("feature"), 6).as("feature"))
    }),

    // REAL video frame sampling, oracle-checked end-to-end: the q84/
    // q86 discipline for moving pictures. Deterministic gradient
    // frames are encoded as genuine multi-frame animated GIFs (the one
    // video container the JDK writes AND reads natively) on the
    // executors, decoded back frame-by-frame with the real codec,
    // stride-sampled (every 2nd frame), and featured from REAL pixels.
    // GIF's LZW + full-gray palette is lossless, so the oracle replays
    // the generator arithmetic — container framing, palette, LZW, and
    // frame indexing must all roundtrip exactly or the hash diverges.
    "q90_video_frames" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val media = graft.core.Multimodal.synthesizeGradientGifs(ids)
      graft.core.Multimodal.videoFrameFeatures(media, every = 2, k = 4)
        .select(col("media_id").as("doc_id"), col("frame_idx"), col("dim"),
          round(col("feature"), 6).as("feature"))
    }),

    // REAL pixel resize through the codec: gradient PNGs decoded,
    // nearest-neighbor-resampled to 4x3 (integer index map),
    // re-encoded as PNG, decoded again for strip features — the
    // oracle replays generator arithmetic THROUGH the index map, so
    // two real encode/decode roundtrips are hash-pinned
    "q116_image_resize" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val media = graft.core.Multimodal.synthesizeGradientPngs(ids)
      val resized = graft.core.Multimodal.resizeImages(media, 4, 3)
      graft.core.Multimodal.imageGridFeatures(resized, k = 4)
        .select(col("media_id").as("doc_id"), col("dim"),
          round(col("feature"), 6).as("feature"))
    }),

    // image augmentation (flip + center crop) through the REAL codec:
    // both transforms are pure integer index maps, so the oracle
    // composes the gradient-generator arithmetic through flip-then-
    // crop and the two PNG roundtrips are hash-pinned (the q116 bar)
    "q128_image_augment" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val media = graft.core.Multimodal.synthesizeGradientPngs(ids)
      val aug = graft.core.Multimodal.augmentImages(media, cropW = 4, cropH = 3)
      graft.core.Multimodal.imageGridFeatures(aug, k = 4)
        .select(col("media_id").as("doc_id"), col("dim"),
          round(col("feature"), 6).as("feature"))
    }),

    // audio augmentation (time reverse) through the REAL WAV codec:
    // PCM is lossless, so the oracle composes the tone generator
    // through the index reversal — the q128 bar for the audio path
    "q129_audio_reverse" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val media = graft.core.Multimodal.synthesizeToneWavs(ids)
      val rev = graft.core.Multimodal.reverseAudio(media)
      graft.core.Multimodal.audioWindowFeatures(rev, k = 4)
        .select(col("media_id").as("doc_id"), col("dim"),
          round(col("feature"), 6).as("feature"))
    }),

    // voice-activity segmentation through the REAL WAV codec: frame
    // energies are integer-exact (Σ|s(t)| per 50-sample frame), the
    // threshold splits frames ~50/50 on this corpus, and consecutive
    // active frames merge gaps-and-islands style — per-doc windows
    // only, one exchange, every output column BIGINT
    "q130_audio_vad" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val media = graft.core.Multimodal.synthesizeToneWavs(ids)
      val en = graft.core.Multimodal.audioFrameEnergies(media, frameSize = 50)
      graft.core.Multimodal.vadSegments(en, threshold = 51000L)
        .select(col("media_id").as("doc_id"), col("seg_start"),
          col("seg_end"), col("n_frames"), col("seg_energy"))
    }),

    // IMAGE near-dup through the real codec: perceptual dHash (9x8
    // nearest resize -> integer luminance -> 64 difference bits), then
    // banded Hamming LSH — for maxDist<=3 the 4x16-bit banding is
    // LOSSLESS by pigeonhole, so this is the exact near-dup set while
    // shuffling 8-byte hashes, never pixels
    "q131_image_dhash_neardup" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val media = graft.core.Multimodal.synthesizeGradientPngs(ids)
      val hashes = graft.core.Multimodal.imageDHashes(media)
      graft.core.Multimodal.dhashNearDupPairs(hashes, maxDist = 3)
    }),

    // q131's LINEAR-SCALE path, itself hash-verified (the q94/q95
    // pattern): band buckets above 40 docs are dropped before the
    // self-join — on this corpus that removes exactly the 78-93-doc
    // identical-hash mega-groups (the 10x probe's quadratic source)
    // while every small-bucket near-dup survives
    "q139_dhash_neardup_capped" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val media = graft.core.Multimodal.synthesizeGradientPngs(ids)
      val hashes = graft.core.Multimodal.imageDHashes(media)
      graft.core.Multimodal.dhashNearDupPairs(hashes, maxDist = 3,
        maxBandSize = 40)
    }),

    // AUDIO near-dup: energy-delta fingerprints (64 bits of
    // frame-to-frame direction) through the real codec, deduped by
    // the SAME banded-Hamming join as images — one machinery, two
    // modalities
    "q140_audio_fingerprint_neardup" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val media = graft.core.Multimodal.synthesizeToneWavs(ids)
      val fps = graft.core.Multimodal.audioFingerprint64(media, frameSize = 6)
        .withColumnRenamed("fingerprint", "dhash")
      graft.core.Multimodal.dhashNearDupPairs(fps, maxDist = 3)
    }),

    // ViT-style patchify through the REAL codec: gradient PNGs
    // decoded, every image split into its 2x2 patch grid (ragged
    // edges dropped — the ViT floor-divide convention), per patch the
    // EXACT BIGINT gray sum — the oracle replays the generator
    // arithmetic through the patch index map with zero float surface
    "q233_image_patchify" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val media = graft.core.Multimodal.synthesizeGradientPngs(ids)
      graft.core.Multimodal.patchifyImages(media, p = 2)
        .select(col("media_id").as("doc_id"), col("patch_row"),
          col("patch_col"), col("px_sum"),
          expr("px_sum * 1000000 DIV 4").as("mean_micro"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    // q84: the gradient-PNG generator arithmetic replayed relationally
    // — pixel(x,y) = (id*31 + 7x + 13y) % 256 over w=4+id%5, h=3+id%4,
    // k=4 vertical strips, feature = sum(r+g+b)/(3*255*n). The engine
    // side must get the identical values THROUGH a real PNG
    // encode->decode roundtrip (javax.imageio).
    "q84_image_features" ->
      """WITH ids AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents),
        |cells AS (
        |  SELECT doc_id, w, h, i.range AS dim,
        |    (i.range * w) // 4 AS x0, ((i.range + 1) * w) // 4 AS x1
        |  FROM ids, range(4) i),
        |px AS (
        |  SELECT c.doc_id, c.dim,
        |    sum(3 * ((c.doc_id * 31 + 7 * x.range + 13 * y.range) % 256)) AS s,
        |    count(*) AS n
        |  FROM cells c, range(8) x, range(6) y
        |  WHERE x.range >= c.x0 AND x.range < c.x1 AND y.range < c.h
        |  GROUP BY 1, 2)
        |SELECT doc_id, dim, round(s / (3.0 * 255.0 * n), 6) AS feature
        |FROM px""".stripMargin,

    // q86: the tone-WAV generator arithmetic replayed relationally —
    // sample(t) = (id*31 + t*17) % 4093 - 2046 over n = 400 + id%100,
    // k=4 windows, feature = sum(|s|)/(32768*n). The engine side must
    // get identical values THROUGH a real WAV encode->decode roundtrip
    // (javax.sound.sampled).
    "q86_audio_features" ->
      s"""$idsCellsCtes
        |px AS (
        |  SELECT c.doc_id, c.dim,
        |    sum(abs((c.doc_id * 31 + t.range * 17) % 4093 - 2046)) AS s,
        |    count(*) AS cnt
        |  FROM cells c, range(500) t
        |  WHERE t.range >= c.t0 AND t.range < c.t1
        |  GROUP BY 1, 2)
        |SELECT doc_id, dim, round(s / (32768.0 * cnt), 6) AS feature
        |FROM px""".stripMargin,

    // q90: the gradient-GIF generator arithmetic replayed relationally
    // — pixel(x,y,f) = (id*31 + 7x + 13y + 19f) % 256 over
    // w=4+id%5, h=3+id%4, nf=2+id%4 frames, sampled every 2nd frame,
    // k=4 vertical strips. The engine must reproduce identical values
    // THROUGH a real animated-GIF encode->decode roundtrip.
    "q90_video_frames" ->
      """WITH ids AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
        |    2 + doc_id % 4 AS nf
        |  FROM documents),
        |frames AS (
        |  SELECT doc_id, w, h, f.range AS frame_idx
        |  FROM ids, range(5) f
        |  WHERE f.range < nf AND f.range % 2 = 0),
        |cells AS (
        |  SELECT doc_id, w, h, frame_idx, i.range AS dim,
        |    (i.range * w) // 4 AS x0, ((i.range + 1) * w) // 4 AS x1
        |  FROM frames, range(4) i),
        |px AS (
        |  SELECT c.doc_id, c.frame_idx, c.dim,
        |    sum(3 * ((c.doc_id * 31 + 7 * x.range + 13 * y.range
        |              + 19 * c.frame_idx) % 256)) AS s,
        |    count(*) AS n
        |  FROM cells c, range(8) x, range(6) y
        |  WHERE x.range >= c.x0 AND x.range < c.x1 AND y.range < c.h
        |  GROUP BY 1, 2, 3)
        |SELECT doc_id, frame_idx, dim, round(s / (3.0 * 255.0 * n), 6) AS feature
        |FROM px""".stripMargin,

    // q116: q84's generator arithmetic composed with the
    // nearest-neighbor index map — resized pixel (x2, y2) reads source
    // ((x2*w)//4, (y2*h)//3); strips run over the 4x3 target
    "q116_image_resize" ->
      """WITH ids AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents),
        |cells AS (
        |  SELECT doc_id, w, h, i.range AS dim,
        |    (i.range * 4) // 4 AS x0, ((i.range + 1) * 4) // 4 AS x1
        |  FROM ids, range(4) i),
        |px AS (
        |  SELECT c.doc_id, c.dim,
        |    CAST(sum(3 * ((c.doc_id * 31 + 7 * ((x.range * c.w) // 4)
        |        + 13 * ((y.range * c.h) // 3)) % 256)) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM cells c, range(4) x, range(3) y
        |  WHERE x.range >= c.x0 AND x.range < c.x1
        |  GROUP BY 1, 2)
        |SELECT doc_id, dim, round(s / (3.0 * 255.0 * n), 6) AS feature
        |FROM px""".stripMargin,

    // q128: generator arithmetic composed through flip-then-crop:
    // out(x, y) = gen(w-1-x0-x, y0+y), x0 = (w-4)//2, y0 = (h-3)//2;
    // k=4 strips over the 4x3 crop = one column x 3 rows per dim
    "q128_image_augment" ->
      """WITH ids AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents),
        |px AS (
        |  SELECT i.doc_id, CAST(x.range AS BIGINT) AS dim,
        |    CAST(sum(3 * ((i.doc_id * 31
        |        + 7 * (i.w - 1 - ((i.w - 4) // 2) - x.range)
        |        + 13 * (((i.h - 3) // 2) + y.range)) % 256)) AS BIGINT) AS s
        |  FROM ids i, range(4) x, range(3) y
        |  GROUP BY 1, 2)
        |SELECT doc_id, dim, round(s / (3.0 * 255.0 * 3.0), 6) AS feature
        |FROM px""".stripMargin,

    // q129: q86's window features with the sample index reversed —
    // reversed(t) = gen(n-1-t), PCM roundtrip lossless
    "q129_audio_reverse" ->
      s"""$idsCellsCtes
        |px AS (
        |  SELECT c.doc_id, c.dim,
        |    sum(abs((c.doc_id * 31 + (c.n - 1 - t.range) * 17) % 4093
        |      - 2046)) AS s,
        |    count(*) AS cnt
        |  FROM cells c, range(500) t
        |  WHERE t.range >= c.t0 AND t.range < c.t1
        |  GROUP BY 1, 2)
        |SELECT doc_id, dim, round(s / (32768.0 * cnt), 6) AS feature
        |FROM px""".stripMargin,

    // q130: frame energies replayed from the tone generator (integer-
    // exact), threshold, then gaps-and-islands segmentation — the
    // same window arithmetic as the Spark side
    "q130_audio_vad" ->
      """WITH ids AS (
        |  SELECT doc_id, 400 + doc_id % 100 AS n FROM documents),
        |frames AS (
        |  SELECT doc_id, f.range AS frame, n
        |  FROM ids, range(9) f WHERE f.range < n // 50),
        |en AS (
        |  SELECT fr.doc_id, fr.frame,
        |    CAST(sum(abs((fr.doc_id * 31 + (fr.frame * 50 + t.range) * 17)
        |      % 4093 - 2046)) AS BIGINT) AS energy
        |  FROM frames fr, range(50) t
        |  GROUP BY 1, 2),
        |act AS (
        |  SELECT doc_id, frame, energy,
        |    frame - row_number() OVER (
        |      PARTITION BY doc_id ORDER BY frame) AS grp
        |  FROM en WHERE energy > 51000)
        |SELECT doc_id, CAST(min(frame) AS BIGINT) AS seg_start,
        |  CAST(max(frame) AS BIGINT) AS seg_end,
        |  CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(sum(energy) AS BIGINT) AS seg_energy
        |FROM act GROUP BY doc_id, grp""".stripMargin,

    // q131: dHash replayed from the generator THROUGH the nearest-
    // resize index map (sx = x*w//9, sy = y*h//8; gray so luminance
    // == v exactly since 299+587+114 = 1000), band keys as 16-bit
    // sums, candidates from band equality, exact Hamming per pair
    "q131_image_dhash_neardup" ->
      s"""$idsToBandsCtes
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON b.band_idx = a.band_idx AND b.band_key = a.band_key
        |    AND a.doc_id < b.doc_id),
        |$hammingPairsTail""".stripMargin,

    // q139: q131's hash/band CTEs + the capped first-match-band
    // semantics — a pair survives iff its FIRST matching band's
    // bucket is within [2, 40] (later-band duplicates are pruned by
    // the engine's first-match filter, so the cap applies THERE)
    "q139_dhash_neardup_capped" ->
      s"""$idsToBandsCtes
        |bsz AS (
        |  SELECT band_idx, band_key, count(*) AS d
        |  FROM bands GROUP BY 1, 2),
        |matches AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.band_idx, a.band_key,
        |    row_number() OVER (PARTITION BY a.doc_id, b.doc_id
        |      ORDER BY a.band_idx) AS rn
        |  FROM bands a JOIN bands b
        |    ON b.band_idx = a.band_idx AND b.band_key = a.band_key
        |    AND a.doc_id < b.doc_id),
        |cand AS (
        |  SELECT m.doc_a, m.doc_b
        |  FROM matches m JOIN bsz s
        |    ON s.band_idx = m.band_idx AND s.band_key = m.band_key
        |  WHERE m.rn = 1 AND s.d <= 40),
        |$hammingPairsTail""".stripMargin,

    // q140: q130's energy replay at frameSize 6 -> 64 delta bits ->
    // q131's band/candidate/hamming CTEs verbatim
    "q140_audio_fingerprint_neardup" ->
      s"""WITH ids AS (
        |  SELECT doc_id, 400 + doc_id % 100 AS n FROM documents),
        |frames AS (
        |  SELECT doc_id, f.range AS frame
        |  FROM ids, range(65) f),
        |en AS (
        |  SELECT fr.doc_id, fr.frame,
        |    CAST(sum(abs((fr.doc_id * 31 + (fr.frame * 6 + t.range) * 17)
        |      % 4093 - 2046)) AS BIGINT) AS energy
        |  FROM frames fr, range(6) t
        |  GROUP BY 1, 2),
        |bits AS (
        |  SELECT a.doc_id, a.frame AS pos,
        |    CASE WHEN b.energy > a.energy THEN 1 ELSE 0 END AS bit
        |  FROM en a JOIN en b
        |    ON b.doc_id = a.doc_id AND b.frame = a.frame + 1
        |  WHERE a.frame < 64),
        |bands AS (
        |  SELECT doc_id, pos // 16 AS band_idx,
        |    CAST(sum(bit << (pos % 16)) AS BIGINT) AS band_key
        |  FROM bits GROUP BY 1, 2),
        |matches AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    row_number() OVER (PARTITION BY a.doc_id, b.doc_id
        |      ORDER BY a.band_idx) AS rn
        |  FROM bands a JOIN bands b
        |    ON b.band_idx = a.band_idx AND b.band_key = a.band_key
        |    AND a.doc_id < b.doc_id),
        |cand AS (SELECT doc_a, doc_b FROM matches WHERE rn = 1),
        |$hammingPairsTail""".stripMargin,

    // q233: generator arithmetic replayed through the 2x2 patch index
    // map (the q84 pixel formula), all BIGINT
    "q233_image_patchify" ->
      """WITH ids AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents),
        |grid AS (
        |  SELECT doc_id, pr.range AS patch_row, pc.range AS patch_col, w, h
        |  FROM ids, range(3) pr, range(4) pc
        |  WHERE pr.range < h // 2 AND pc.range < w // 2),
        |px AS (
        |  SELECT doc_id, patch_row, patch_col,
        |    CAST(((doc_id * 31 + 7 * (patch_col * 2) + 13 * (patch_row * 2)) % 256)
        |     + ((doc_id * 31 + 7 * (patch_col * 2 + 1) + 13 * (patch_row * 2)) % 256)
        |     + ((doc_id * 31 + 7 * (patch_col * 2) + 13 * (patch_row * 2 + 1)) % 256)
        |     + ((doc_id * 31 + 7 * (patch_col * 2 + 1) + 13 * (patch_row * 2 + 1)) % 256)
        |      AS BIGINT) AS px_sum
        |  FROM grid)
        |SELECT doc_id, CAST(patch_row AS BIGINT) AS patch_row,
        |  CAST(patch_col AS BIGINT) AS patch_col, px_sum,
        |  px_sum * 1000000 // 4 AS mean_micro
        |FROM px""".stripMargin
  )

  /** CTEs `ids`, `cells`, `px`, `bits`, `bands` shared by the q131 and q139
    * oracles.
    */
  private lazy val idsToBandsCtes: String =
    """WITH ids AS (
      |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
      |  FROM documents),
      |cells AS (
      |  SELECT doc_id, w, h, gx.range AS x, gy.range AS y
      |  FROM ids, range(9) gx, range(8) gy),
      |px AS (
      |  SELECT doc_id, x, y,
      |    (doc_id * 31 + 7 * ((x * w) // 9) + 13 * ((y * h) // 8))
      |      % 256 AS v
      |  FROM cells),
      |bits AS (
      |  SELECT a.doc_id, a.y * 8 + a.x AS pos,
      |    CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
      |  FROM px a JOIN px b
      |    ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
      |  WHERE a.x < 8),
      |bands AS (
      |  SELECT doc_id, pos // 16 AS band_idx,
      |    CAST(sum(bit << (pos % 16)) AS BIGINT) AS band_key
      |  FROM bits GROUP BY 1, 2),""".stripMargin

  /** CTE `ham` and the final SELECT shared by the q131, q139 and q140
    * oracles.
    */
  private lazy val hammingPairsTail: String =
    """ham AS (
      |  SELECT c.doc_a, c.doc_b,
      |    CAST(sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END)
      |      AS BIGINT) AS hamming
      |  FROM cand c
      |  JOIN bits ba ON ba.doc_id = c.doc_a
      |  JOIN bits bb ON bb.doc_id = c.doc_b AND bb.pos = ba.pos
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3""".stripMargin

  /** CTEs `ids`, `cells` shared by the q86 and q129 oracles. */
  private lazy val idsCellsCtes: String =
    """WITH ids AS (
      |  SELECT doc_id, 400 + doc_id % 100 AS n FROM documents),
      |cells AS (
      |  SELECT doc_id, n, i.range AS dim,
      |    (i.range * n) // 4 AS t0, ((i.range + 1) * n) // 4 AS t1
      |  FROM ids, range(4) i),""".stripMargin
}
