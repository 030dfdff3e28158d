package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{Dedup, Graph, Hnsw, Layout, Mixing, NaiveBayes, Pii, Projection, Retrieval, Similarity, Sketches, TextAnalysis}
import graft.sources.{Tables, VersionedTable}
import ParityQueries.Q
import ExtensionShared._

/** Multimodal binary columns: PNG/WAV/GVID/MJPEG decode, perceptual hashes, media near-dup joins.
  *
  * Media payloads are standing data, materialized once per (session,
  * dir) with [[Tables.memoTable]], so the decode queries measure decoding.
  *
  * One domain registry of the extension surface; composed (in the
  * original, order-stable sequence) by [[ExtensionQueries.all]].
  */
object MediaQueries {

  val all: Seq[Q] = Seq(

    Q("q31_media_stats",
      (s, dir) => graft.functions.Multimodal.mediaStats(
        graft.functions.Multimodal.syntheticMedia(s, dir))
        .orderBy("kind"),
      Some("""SELECT CASE CAST(doc_id % 3 AS INTEGER)
             |         WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
             |         ELSE 'video' END AS kind,
             |       CAST(COUNT(*) AS BIGINT) AS n_media,
             |       CAST(SUM(octet_length(CAST(text AS BLOB))) AS BIGINT) AS total_bytes,
             |       CAST(MAX(n_chars * 10) AS BIGINT) AS max_duration_ms
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The GENERIC multimodal decode on REAL codecs (round 5 — this was
    // the last stub-backed query): a mixed-kind table whose image rows
    // are genuine PNG, audio rows genuine WAV, video rows genuine GVID
    // containers, and ONE dispatching decoder that routes each row
    // through the real codec for its kind. Every output value comes out
    // of an actual parse; all stats are exact integers (pixel r+g+b
    // sums, |sample| sums, sampled-frame pixel sums), so the whole
    // mixed-kind decode is oracle-hash-checked. width/height are NULL
    // for audio.

    Q("q32_media_features",
      (s, dir) => {
        import s.implicits._
        graft.functions.Multimodal.decodeMedia(
          Tables.memoTable(s, dir, "media_mixed") {
            graft.functions.Multimodal.syntheticMediaReal(s, dir).toDF()
          }.as[graft.functions.Multimodal.MediaRow])
          .toDF().orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
             |  CASE CAST(doc_id % 3 AS INTEGER)
             |    WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
             |    ELSE 'video' END AS kind,
             |  CASE CAST(doc_id % 3 AS INTEGER)
             |    WHEN 0 THEN CAST(n_chars % 64 + 8 AS INTEGER)
             |    WHEN 1 THEN CAST(NULL AS INTEGER)
             |    ELSE CAST(n_chars % 32 + 8 AS INTEGER) END AS width,
             |  CASE CAST(doc_id % 3 AS INTEGER)
             |    WHEN 0 THEN CAST(n_chars % 48 + 8 AS INTEGER)
             |    WHEN 1 THEN CAST(NULL AS INTEGER)
             |    ELSE CAST(n_chars % 24 + 8 AS INTEGER) END AS height,
             |  CASE CAST(doc_id % 3 AS INTEGER)
             |    WHEN 0 THEN CAST((n_chars % 64 + 8) * (n_chars % 48 + 8)
             |                     AS BIGINT)
             |    WHEN 1 THEN CAST(n_chars + 64 AS BIGINT)
             |    ELSE CAST((n_chars % 5 + 2 + 1) // 2 AS BIGINT)
             |    END AS n_units,
             |  CASE CAST(doc_id % 3 AS INTEGER)
             |    WHEN 0 THEN CAST(((doc_id * 37) % 256 + (doc_id * 53) % 256
             |        + (doc_id * 71) % 256)
             |      * (n_chars % 64 + 8) * (n_chars % 48 + 8) AS BIGINT)
             |    WHEN 1 THEN CAST(((doc_id * 97) % 8192 + 1)
             |      * (n_chars + 64) AS BIGINT)
             |    ELSE (SELECT CAST((n_chars % 32 + 8) * (n_chars % 24 + 8)
             |        * SUM((doc_id * 37 + fi * 11) % 256
             |            + (doc_id * 53 + fi * 13) % 256
             |            + (doc_id * 71 + fi * 17) % 256) AS BIGINT)
             |      FROM (SELECT unnest(generate_series(0,
             |        CAST(n_chars % 5 + 1 AS INTEGER))) AS fi) fr
             |      WHERE fi % 2 = 0)
             |    END AS stat_sum
             |FROM documents ORDER BY media_id""".stripMargin)),

    // Sessionization: gap>30min starts a new session; lag + running-sum
    // windows, whole-second arithmetic on both sides so boundary events
    // agree across engines.

    Q("q69_image_decode",
      (s, dir) => {
        import s.implicits._
        graft.functions.Multimodal.decodePngs(
          Tables.memoTable(s, dir, "media_png") {
            graft.functions.Multimodal.syntheticPngs(s, dir).toDF()
          }.as[graft.functions.Multimodal.ImageRow])
          .toDF().orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
             |       CAST(n_chars % 64 + 8 AS INTEGER) AS width,
             |       CAST(n_chars % 48 + 8 AS INTEGER) AS height,
             |       CAST((doc_id * 37) % 256 AS DOUBLE) AS mean_r,
             |       CAST((doc_id * 53) % 256 AS DOUBLE) AS mean_g,
             |       CAST((doc_id * 71) % 256 AS DOUBLE) AS mean_b,
             |       ((doc_id * 37) % 256 + (doc_id * 53) % 256
             |          + (doc_id * 71) % 256) / 3.0 AS thumb_mean
             |FROM documents ORDER BY media_id""".stripMargin)),

    // REAL audio codec round trip (JDK javax.sound.sampled): encode one
    // mono 16-bit PCM WAV per document (square wave, amplitude + length
    // derived from the row), genuinely parse it back (header + frame
    // stream), fold sample statistics. Constant amplitude makes every
    // decoded stat computable in plain SQL — the oracle hash-checks the
    // whole encode→parse→fold chain. Partition-local; payloads never
    // shuffle. Video remains the one stubbed kind (no JDK codec).

    Q("q70_audio_decode",
      (s, dir) => {
        import s.implicits._
        graft.functions.Multimodal.decodeWavs(
          Tables.memoTable(s, dir, "media_wav") {
            graft.functions.Multimodal.syntheticWavs(s, dir).toDF()
          }.as[graft.functions.Multimodal.AudioRow])
          .toDF().orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
             |       CAST(16000 AS INTEGER) AS sample_rate,
             |       CAST(n_chars + 64 AS BIGINT) AS n_frames,
             |       CAST((doc_id * 97) % 8192 + 1 AS DOUBLE) AS mean_abs,
             |       CAST((doc_id * 97) % 8192 + 1 AS INTEGER) AS peak
             |FROM documents ORDER BY media_id""".stripMargin)),

    // REAL frame sampling over an indexed video container (GVID: header
    // index + PNG frames): parse the index, SEEK to every 2nd frame,
    // decode only those through the genuine PNG codec — skipped frames
    // are never decompressed. Per-frame colors drift with the frame
    // index, so a wrong seek or misread index produces hash-detectable
    // wrong output. Partition-local; payloads never shuffle.

    Q("q71_video_frames",
      (s, dir) => {
        import s.implicits._
        graft.functions.Multimodal.sampleGvidFrames(
          Tables.memoTable(s, dir, "media_gvid") {
            graft.functions.Multimodal.syntheticGvids(s, dir).toDF()
          }.as[graft.functions.Multimodal.VideoRow], every = 2)
          .toDF().orderBy("media_id", "frame_idx")
      },
      Some("""WITH f AS (
             |  SELECT doc_id, n_chars,
             |         unnest(generate_series(0,
             |           CAST(n_chars % 5 + 1 AS INTEGER))) AS fi
             |  FROM documents
             |)
             |SELECT doc_id AS media_id, CAST(fi AS INTEGER) AS frame_idx,
             |       CAST(n_chars % 32 + 8 AS INTEGER) AS width,
             |       CAST(n_chars % 24 + 8 AS INTEGER) AS height,
             |       CAST((doc_id * 37 + fi * 11) % 256 AS DOUBLE)
             |         AS mean_r,
             |       CAST((doc_id * 53 + fi * 13) % 256 AS DOUBLE)
             |         AS mean_g,
             |       CAST((doc_id * 71 + fi * 17) % 256 AS DOUBLE)
             |         AS mean_b
             |FROM f WHERE fi % 2 = 0
             |ORDER BY media_id, frame_idx""".stripMargin)),

    // REAL compressed video: MJPEG frames (genuine JDK JPEG codec — DCT
    // + Huffman) in a REAL RIFF/AVI container with an idx1 index. The
    // demuxer finds idx1 from top-level chunks only and seeks straight
    // to every 2nd frame; skipped frames are never entropy-decoded.
    // Frame DIMENSIONS drift with the frame index and survive the lossy
    // codec exactly (they come out of the real SOF parse), so the
    // seek+decode path is hash-checked here; the DCT-lossy channel means
    // are pinned by tolerance in MultimodalSpec instead.

    Q("q75_mjpeg_frames",
      (s, dir) => {
        import s.implicits._
        graft.functions.Multimodal.sampleAviFrames(
          Tables.memoTable(s, dir, "media_avi") {
            graft.functions.Multimodal.syntheticMjpegAvis(s, dir).toDF()
          }.as[graft.functions.Multimodal.AviRow], every = 2)
          .toDF()
          .select(col("media_id"), col("frame_idx"), col("width"),
            col("height"))
          .orderBy("media_id", "frame_idx")
      },
      Some("""WITH f AS (
             |  SELECT doc_id, n_chars,
             |         unnest(generate_series(0,
             |           CAST(n_chars % 5 + 1 AS INTEGER))) AS fi
             |  FROM documents
             |)
             |SELECT doc_id AS media_id, CAST(fi AS INTEGER) AS frame_idx,
             |       CAST(n_chars % 32 + 8 + fi AS INTEGER) AS width,
             |       CAST(n_chars % 24 + 8 + fi % 3 AS INTEGER) AS height
             |FROM f WHERE fi % 2 = 0
             |ORDER BY media_id, frame_idx""".stripMargin)),

    // The composed quality-filter stage (C4/Gopher-style): word-count
    // window + alpha-ratio floor + top-word repetition cap in ONE
    // map-side projection over the census kernels, first failing rule
    // as the machine-readable drop reason. No shuffle, no explode —
    // the whole keep/drop decision rides the scan stage.

    Q("q160_image_ahash",
      // the media table lands ONCE as a memoized source (generation is
      // source-data materialization, not operator work); the decode +
      // hash is what this query measures
      (s, dir) => graft.functions.Multimodal.imageAHash(
          Tables.memoTable(s, dir, "gradient_pngs") {
            graft.functions.Multimodal.syntheticGradientPngs(s, dir)
              .toDF()
          }.as[graft.functions.Multimodal.ImageRow](
            org.apache.spark.sql.Encoders.product))
        .orderBy("doc_id"),
      Some(aHashPackCtes +
        """
          |SELECT doc_id, h_hi, h_lo FROM pack
          |ORDER BY doc_id""".stripMargin)),

    // Image near-duplicate pairs over the aHash: four 16-bit LSH bands
    // generate candidates, exact Hamming (bit_count∘xor — portable
    // integer arithmetic) verifies ≤ 3. At maxDist ≤ 3 the banding is
    // COMPLETE by pigeonhole (≤3 differing bits across 4 bands leave a
    // band identical), so the blocking-FREE n² oracle certifies zero
    // missed pairs — the text-dedup banding discipline on images.

    Q("q161_image_neardup",
      // probes the STANDING hash index (built once, memoized — the
      // q140/q122 standing-artifact discipline): the measured work is
      // the band join + Hamming verify, production's steady state
      (s, dir) => graft.functions.Multimodal.imageNearDupPairs(
          Tables.memoTable(s, dir, "image_ahash") {
            graft.functions.Multimodal.imageAHash(
              Tables.memoTable(s, dir, "gradient_pngs") {
                graft.functions.Multimodal
                  .syntheticGradientPngs(s, dir).toDF()
              }.as[graft.functions.Multimodal.ImageRow](
                org.apache.spark.sql.Encoders.product))
          })
        .orderBy("id_a", "id_b"),
      Some(aHashPackCtes +
        """
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |       CAST(bit_count(xor(a.h_hi, b.h_hi))
          |         + bit_count(xor(a.h_lo, b.h_lo)) AS BIGINT) AS dist
          |FROM pack a JOIN pack b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.h_hi, b.h_hi))
          |    + bit_count(xor(a.h_lo, b.h_lo)) <= 3
          |ORDER BY id_a, id_b""".stripMargin)),

    // Audio energy fingerprint with a REAL WAV codec in the loop: one
    // stepped-envelope PCM clip per doc (re-uploads modeled as ids
    // in the same hashed dup class — identical audio), decode + per-window mean
    // |amplitude| → 64 energy bits packed as the same two unsigned
    // halves as q160. The oracle regenerates the fingerprint from the
    // envelope FORMULA, certifying the encode→decode round-trip.

    Q("q162_audio_fingerprint",
      (s, dir) => graft.functions.Multimodal.audioFingerprint(
          Tables.memoTable(s, dir, "stepped_wavs") {
            graft.functions.Multimodal.syntheticSteppedWavs(s, dir)
              .toDF()
          }.as[graft.functions.Multimodal.AudioRow](
            org.apache.spark.sql.Encoders.product))
        .orderBy("doc_id"),
      Some(audioPackCtes +
        """
          |SELECT doc_id, h_hi, h_lo FROM pack
          |ORDER BY doc_id""".stripMargin)),

    // Audio near-duplicate pairs: the q161 band join UNCHANGED over
    // the audio fingerprint frame (the hash surface is modality-
    // agnostic by construction). Re-uploaded clips (same hashed class)
    // land at distance 0; the blocking-free n² oracle again certifies
    // pigeonhole completeness at ≤ 3.

    Q("q163_audio_neardup",
      (s, dir) => graft.functions.Multimodal.imageNearDupPairs(
          Tables.memoTable(s, dir, "audio_fp") {
            graft.functions.Multimodal.audioFingerprint(
              Tables.memoTable(s, dir, "stepped_wavs") {
                graft.functions.Multimodal
                  .syntheticSteppedWavs(s, dir).toDF()
              }.as[graft.functions.Multimodal.AudioRow](
                org.apache.spark.sql.Encoders.product))
          })
        .orderBy("id_a", "id_b"),
      Some(audioPackCtes +
        """
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |       CAST(bit_count(xor(a.h_hi, b.h_hi))
          |         + bit_count(xor(a.h_lo, b.h_lo)) AS BIGINT) AS dist
          |FROM pack a JOIN pack b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.h_hi, b.h_hi))
          |    + bit_count(xor(a.h_lo, b.h_lo)) <= 3
          |ORDER BY id_a, id_b""".stripMargin)),

    // q163's 100× HASH ANCHOR: the same standing-fingerprint band join
    // restricted to the certification window (first 20k docs by id —
    // the q246 certSliceCutoff rule, widened). q163's own oracle
    // regenerates envelopes for EVERY doc and honestly times out past
    // sf1, so the audio family's 100× evidence was row-count linearity
    // alone; the window bounds the oracle's per-doc envelope CTE to
    // ~20k docs at ANY corpus size while the dup-class seed stays
    // corpus-scaled (identical bits to the full run —
    // audioPackCtesWhere). Band candidacy is pair-local, so the sliced
    // join output ≡ the full q163 output restricted to
    // both-endpoints-in-window: a real cross-engine hash certificate
    // for the audio near-dup path at sf10. Window sizing: the
    // multiplicative dup-seed hash is LOW-DISCREPANCY on the dense id
    // head (consecutive ids spread maximally far apart — by design),
    // so a dense window collides far BELOW the n²/2m birthday rate; a
    // 5k window yielded a 2-pair anchor at sf10 (non-vacuous but
    // thin), 20k measures a pair count in the dozens while keeping the
    // oracle's pack CTE at 20k docs (~seconds in DuckDB at any sf).

    Q("q283_audio_neardup_cert",
      (s, dir) => {
        val cut = certSliceCutoff(s, dir, target = 20000L)
        graft.functions.Multimodal.imageNearDupPairs(
            Tables.memoTable(s, dir, "audio_fp") {
              graft.functions.Multimodal.audioFingerprint(
                Tables.memoTable(s, dir, "stepped_wavs") {
                  graft.functions.Multimodal
                    .syntheticSteppedWavs(s, dir).toDF()
                }.as[graft.functions.Multimodal.AudioRow](
                  org.apache.spark.sql.Encoders.product))
            }.filter(col("doc_id") <= cut))
          .orderBy("id_a", "id_b")
      },
      Some(audioPackCtesWhere(
          s"WHERE doc_id <= ${certSliceCutoffSql(20000L)}") +
        """
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |       CAST(bit_count(xor(a.h_hi, b.h_hi))
          |         + bit_count(xor(a.h_lo, b.h_lo)) AS BIGINT) AS dist
          |FROM pack a JOIN pack b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.h_hi, b.h_hi))
          |    + bit_count(xor(a.h_lo, b.h_lo)) <= 3
          |ORDER BY id_a, id_b""".stripMargin)),

    // Per-frame video hashes with a REAL container parse + PNG decode
    // per frame: one gradient-frame GVID per doc (re-uploads modeled
    // as hashed dup classes), each frame aHashed with the q160 core. The
    // frame-hash table is the video dedup INDEX; the oracle
    // regenerates every frame hash from the pixel formula, certifying
    // container index, seek walk, and codec together.

    Q("q164_video_frame_hashes",
      (s, dir) => graft.functions.Multimodal.videoFrameHashes(
          Tables.memoTable(s, dir, "gradient_gvids") {
            graft.functions.Multimodal.syntheticGradientGvids(s, dir)
              .toDF()
          }.as[graft.functions.Multimodal.VideoRow](
            org.apache.spark.sql.Encoders.product))
        .orderBy("doc_id", "frame_idx"),
      Some(videoPackCtes +
        """
          |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, h_hi, h_lo
          |FROM packf ORDER BY doc_id, frame_idx""".stripMargin)),

    // Video near-duplicates: one equi-join on the frame-hash VALUE
    // (only videos sharing an actual frame ever meet — inverted-index
    // discipline, never all-pairs), distinct-overlap counting, and a
    // containment-style ratio against the smaller side. Re-uploads
    // surface at 10000 bp.

    Q("q165_video_neardup",
      (s, dir) => graft.functions.Multimodal.videoNearDupPairs(
          Tables.memoTable(s, dir, "video_frame_hashes") {
            graft.functions.Multimodal.videoFrameHashes(
              Tables.memoTable(s, dir, "gradient_gvids") {
                graft.functions.Multimodal
                  .syntheticGradientGvids(s, dir).toDF()
              }.as[graft.functions.Multimodal.VideoRow](
                org.apache.spark.sql.Encoders.product))
          })
        .orderBy("id_a", "id_b"),
      Some(videoPackCtes +
        """,
          |fh AS (
          |  SELECT DISTINCT doc_id,
          |         CAST(h_hi AS STRING) || ':' || CAST(h_lo AS STRING)
          |           AS hk
          |  FROM packf
          |), cnts AS (
          |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf
          |  FROM fh GROUP BY 1
          |), shared AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |         CAST(COUNT(*) AS BIGINT) AS n_shared
          |  FROM fh a JOIN fh b
          |    ON a.hk = b.hk AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2
          |)
          |SELECT s.id_a, s.id_b, s.n_shared,
          |       CAST(floor(s.n_shared * 10000.0
          |         / least(ca.nf, cb.nf)) AS BIGINT) AS overlap_bp
          |FROM shared s
          |JOIN cnts ca ON ca.doc_id = s.id_a
          |JOIN cnts cb ON cb.doc_id = s.id_b
          |WHERE s.n_shared * 10000.0 / least(ca.nf, cb.nf) >= 5000
          |ORDER BY s.id_a, s.id_b""".stripMargin)),

    // Tokenizer fertility / compression ratio: subwords-per-word
    // (fertility, in bp) and characters-per-token (centi-chars) from
    // the REAL trained BPE encode — the "this text tokenizes badly"
    // quality signal (gibberish and wrong-script text show high
    // fertility / low chars-per-token against a vocabulary trained on
    // the corpus). Reads the SAME memoized standing vocabulary as
    // q140; the extra census join is map-side. Exact integer floors.
  )
}
