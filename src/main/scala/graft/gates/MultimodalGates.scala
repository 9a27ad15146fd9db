package graft
package gates

import graft.operators.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** Multimodal gates: binary packing, image/audio decode and
  * resize, frame sampling and perceptual near-dup. */
object MultimodalGates {

  /** (media_id, bytes) frame of synthesized payloads for the
    * multimodal gates — one payload per document id. `cap` bounds the
    * fixture-sized gates; None = whole corpus (the bulk-decode shape),
    * spread across cores first since synthesis+decode is CPU-bound. */
  private def packedMedia(s: SparkSession, d: String, cap: Option[Long])(
      gen: Long => Array[Byte]): DataFrame = {
    import s.implicits._
    val ids0 = Tables.documents(s, d).select(col("doc_id"))
    val ids = cap.fold(graft.operators.Parallelism.ensureDefault(ids0))(
      c => ids0.filter(col("doc_id") < c))
    ids.as[Long].mapPartitions(_.map(id => (id, gen(id)))).toDF("media_id", "bytes")
  }

  val gates: Seq[Gate] = Seq(
    Gate("multimodal_image_decode", { (s, d) =>
      // REAL image decode (javax.imageio — the JDK ships the codec):
      // deterministic PNGs encoded per doc id, decoded distributed in
      // per-partition batches, exact per-channel pixel sums checked
      // against the oracle's closed form (PNG is lossless)
      Multimodal.decodeImageStats(s,
        packedMedia(s, d, Some(200L))(Multimodal.synthImagePng(_)))
    }, """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 200),
         |px AS (SELECT doc_id, r1.x, r2.y
         |  FROM ids CROSS JOIN range(8) r1(x) CROSS JOIN range(8) r2(y))
         |SELECT doc_id AS media_id, 8 AS width, 8 AS height,
         |  CAST(SUM((doc_id*7 + x*3 + y*5) % 256) AS BIGINT) AS sum_r,
         |  CAST(SUM((doc_id*11 + x) % 256) AS BIGINT) AS sum_g,
         |  CAST(SUM((doc_id*13 + y) % 256) AS BIGINT) AS sum_b
         |FROM px GROUP BY doc_id""".stripMargin),
    Gate("multimodal_image_resize", { (s, d) =>
      // decode + nearest-neighbor thumbnail (8x8 -> 4x4) in one batch
      // pass; resized channel sums vs the closed form (source pixel
      // (2x, 2y) — integer indexing, no blending, exact)
      Multimodal.resizeImageStats(s,
        packedMedia(s, d, Some(200L))(Multimodal.synthImagePng(_)), tw = 4, th = 4)
    }, """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 200),
         |px AS (SELECT doc_id, r1.x, r2.y
         |  FROM ids CROSS JOIN range(4) r1(x) CROSS JOIN range(4) r2(y))
         |SELECT doc_id AS media_id, 4 AS width, 4 AS height,
         |  CAST(SUM((doc_id*7 + 2*x*3 + 2*y*5) % 256) AS BIGINT) AS sum_r,
         |  CAST(SUM((doc_id*11 + 2*x) % 256) AS BIGINT) AS sum_g,
         |  CAST(SUM((doc_id*13 + 2*y) % 256) AS BIGINT) AS sum_b
         |FROM px GROUP BY doc_id""".stripMargin),
    Gate("multimodal_audio_decode", { (s, d) =>
      // REAL audio decode (javax.sound.sampled — WAV/PCM ships with the
      // JDK): 256-sample PCM clips per id, decoded distributed,
      // length/energy features vs the closed form (PCM is lossless)
      Multimodal.decodeAudioStats(s,
        packedMedia(s, d, Some(200L))(Multimodal.synthWav(_)))
    }, """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 200),
         |smp AS (SELECT doc_id, ((doc_id*31 + r.i*7) % 65536) - 32768 AS v
         |  FROM ids CROSS JOIN range(256) r(i))
         |SELECT doc_id AS media_id, CAST(256 AS BIGINT) AS n_samples,
         |  CAST(SUM(v) AS BIGINT) AS sum_val,
         |  CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs
         |FROM smp GROUP BY doc_id""".stripMargin),
    Gate("multimodal_frame_sample", { (s, d) =>
      // REAL frame sampling over the JDK's multi-frame codec (GIF, the
      // video stand-in): 6-frame clips per id, every 2nd frame decoded,
      // per-frame channel sums vs the closed form (<=64 colors/frame,
      // far under GIF's palette — lossless)
      Multimodal.sampleFrameStats(s,
        packedMedia(s, d, Some(100L))(Multimodal.synthGif(_, frames = 6)), stride = 2)
    }, """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
         |fr AS (SELECT doc_id, rf.k * 2 AS f FROM ids CROSS JOIN range(3) rf(k)),
         |px AS (SELECT doc_id, f, r1.x, r2.y
         |  FROM fr CROSS JOIN range(8) r1(x) CROSS JOIN range(8) r2(y))
         |SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
         |  CAST(SUM((doc_id*7 + f*17 + x*3 + y*5) % 256) AS BIGINT) AS sum_r,
         |  CAST(SUM((doc_id*11 + f*19 + x) % 256) AS BIGINT) AS sum_g,
         |  CAST(SUM((doc_id*13 + f*23 + y) % 256) AS BIGINT) AS sum_b
         |FROM px GROUP BY doc_id, f""".stripMargin),
    Gate("multimodal_image_decode_bulk", { (s, d) =>
      // corpus-scale decode shape: ONE synthesized PNG per document (no
      // id cap — encode+decode work scales with the corpus, unlike the
      // fixture-bounded gates above); the closed-form oracle covers
      // every row, so the gate stays exact at any sf
      Multimodal.decodeImageStats(s,
        packedMedia(s, d, None)(Multimodal.synthImagePng(_)))
    }, """WITH px AS (SELECT doc_id, r1.x, r2.y
         |  FROM documents CROSS JOIN range(8) r1(x) CROSS JOIN range(8) r2(y))
         |SELECT doc_id AS media_id, 8 AS width, 8 AS height,
         |  CAST(SUM((doc_id*7 + x*3 + y*5) % 256) AS BIGINT) AS sum_r,
         |  CAST(SUM((doc_id*11 + x) % 256) AS BIGINT) AS sum_g,
         |  CAST(SUM((doc_id*13 + y) % 256) AS BIGINT) AS sum_b
         |FROM px GROUP BY doc_id""".stripMargin),
    Gate("multimodal_image_neardup", { (s, d) =>
      // perceptual-hash image dedup: REAL PNG decode -> 64-bit dHash ->
      // banded Hamming pairs (exact recall by pigeonhole); the fixture
      // images come in groups of 4 (exact + 1-bit-near duplicates, no
      // cross-group noise) and the oracle re-derives every fingerprint
      // from the pixel closed form
      Multimodal.imageNearDupPairs(s,
        packedMedia(s, d, Some(200L))(Multimodal.synthImageSeries(_)), maxHamming = 2)
    }, """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 200),
         |px AS (SELECT doc_id, doc_id // 4 AS s, doc_id % 4 AS tw, r1.x, r2.y,
         |  CAST(r2.y*9 + r1.x + 1 AS BIGINT) AS i
         |  FROM ids CROSS JOIN range(9) r1(x) CROSS JOIN range(8) r2(y)),
         |v AS (SELECT doc_id, x, y,
         |  ((i*i*(s+7) + i*(s*s+13)) % 1009
         |   + CASE WHEN x = 0 AND y = 0 THEN tw*8 ELSE 0 END) % 256 AS v FROM px),
         |g AS (SELECT doc_id, x, y,
         |  299*v + 587*((v+85)%256) + 114*((v+170)%256) AS gm FROM v),
         |fp AS (SELECT a.doc_id,
         |  CAST(COALESCE(SUM(CASE WHEN b.gm <= a.gm THEN 0
         |    WHEN a.y*8 + a.x = 63 THEN CAST(-9223372036854775808 AS BIGINT)
         |    ELSE CAST(1 AS BIGINT) << (a.y*8 + a.x) END), 0) AS BIGINT) AS dh
         |  FROM g a JOIN g b ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
         |  WHERE a.x < 8 GROUP BY a.doc_id)
         |SELECT a.doc_id AS media_a, b.doc_id AS media_b,
         |  CAST(bit_count(xor(a.dh, b.dh)) AS BIGINT) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.dh, b.dh)) <= 2""".stripMargin),
    Gate("multimodal_audio_neardup", { (s, d) =>
      // perceptual audio dedup: REAL WAV decode -> 63-bit energy-profile
      // fingerprint -> banded Hamming pairs; clips come in groups of 4
      // (exact + 1-bit-near duplicates, zero cross-group noise) and the
      // oracle re-derives every fingerprint from the sample closed form
      Multimodal.audioNearDupPairs(s,
        packedMedia(s, d, Some(200L))(Multimodal.synthWavSeries(_)), maxHamming = 2)
    }, """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 200),
         |smp AS (SELECT doc_id, r.i,
         |  ((r.i*r.i*((doc_id // 4)+7) + r.i*((doc_id // 4)*(doc_id // 4)+13)
         |    + CASE WHEN r.i = 0 THEN (doc_id % 4)*977 ELSE 0 END)
         |   % 65543) % 65536 - 32768 AS v
         |  FROM ids CROSS JOIN range(256) r(i)),
         |en AS (SELECT doc_id, i // 4 AS w, SUM(ABS(v)) AS e
         |  FROM smp GROUP BY doc_id, i // 4),
         |fp AS (SELECT a.doc_id,
         |  CAST(COALESCE(SUM(CASE WHEN b.e > a.e
         |    THEN CAST(1 AS BIGINT) << CAST(a.w AS INTEGER) ELSE 0 END), 0) AS BIGINT) AS fh
         |  FROM en a JOIN en b ON b.doc_id = a.doc_id AND b.w = a.w + 1
         |  GROUP BY a.doc_id)
         |SELECT a.doc_id AS media_a, b.doc_id AS media_b,
         |  CAST(bit_count(xor(a.fh, b.fh)) AS BIGINT) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.fh, b.fh)) <= 2""".stripMargin),
    // ---- multimodal binary plumbing ------------------------------------
    Gate("multimodal_features", { (s, d) =>
      val packed = Multimodal.packBinary(
        Tables.documents(s, d), col("doc_id"), col("text"), "text/plain")
      packed.select(
        col("media_id"),
        col("meta.byte_len").cast("long").as("byte_len"),
        numCsv(Multimodal.asciiFeatures(decode(col("bytes"), "UTF-8"), 8)).as("features"))
    }, """SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS byte_len,
         |  array_to_string(list_transform(
         |    list_filter(string_to_array(substr(text,1,8),''), c -> len(c) > 0),
         |    c -> CAST(round(CAST(ascii(c) / 255.0 AS DOUBLE) * 1000000) AS BIGINT)), ',') AS features
         |FROM documents""".stripMargin),
  )
}
