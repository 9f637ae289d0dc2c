package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators._

/** Multimodal payloads: binary features and real image, audio and video
  * decode round-trips (SURVEY §2.11). */
object MultimodalQueries {

  val queries: Seq[Query] = Seq(
    // multimodal: binary payload + metadata + batch feature extraction
    Query("multimodal_features", (s, dir) => {
      val media = Multimodal.synthMedia(Tables.documents(s, dir))
      Multimodal.extractFeatures(media)
        .select(col("media_id"), col("kind"), col("n_bytes"),
          col("content_sha"), col("frames_sampled"))
    },
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |                  ELSE 'video' END AS kind,
        |  octet_length(encode(text)) AS n_bytes,
        |  sha256(text) AS content_sha,
        |  CASE doc_id % 3
        |    WHEN 2 THEN octet_length(encode(text)) // 1024 + 1
        |    WHEN 1 THEN octet_length(encode(text)) // 4096 + 1
        |    ELSE 1 END AS frames_sampled
        |FROM documents""".stripMargin),

    // multimodal: frame sampling over video payloads
    Query("multimodal_frames", (s, dir) => {
      val media = Multimodal.synthMedia(Tables.documents(s, dir))
      Multimodal.sampleFrames(media, everyNth = 3)
    },
      """SELECT doc_id AS media_id,
        |  CAST(f.i AS INT) AS frame_no,
        |  CAST(f.blk AS INT) AS block_offset_kib
        |FROM documents,
        |LATERAL (
        |  SELECT row_number() OVER (ORDER BY blk) - 1 AS i, blk
        |  FROM (SELECT unnest(list_filter(
        |    range(octet_length(encode(text)) // 1024 + 1),
        |    x -> x % 3 = 0)) AS blk)
        |) f
        |WHERE doc_id % 3 = 2""".stripMargin),

    // multimodal REAL image round-trip: per-doc PNG encoded with
    // javax.imageio (two id-derived colors, even width) → decoded with
    // javax.imageio → dimensions + exact per-channel means, which the
    // oracle derives in closed form from doc_id
    Query("multimodal_image_decode", (s, dir) => {
      Multimodal.decodeImages(
        Multimodal.synthEncodedMedia(Tables.documents(s, dir), "image"))
    },
      // real-codec round-trips: the engine encodes AND decodes with the
      // actual JDK codecs; the oracle knows what the decode must yield
      // because the fixture's pixel/sample content is closed-form in id
      """SELECT doc_id AS media_id,
        |  CAST(8 + (doc_id % 8) * 2 AS INT) AS width,
        |  CAST(8 + (doc_id % 5) * 2 AS INT) AS height,
        |  ((doc_id % 256) + (doc_id * 3 % 256)) / 2.0 AS mean_r,
        |  ((doc_id * 7 % 256) + (doc_id * 11 % 256)) / 2.0 AS mean_g,
        |  ((doc_id * 13 % 256) + (doc_id * 17 % 256)) / 2.0 AS mean_b
        |FROM documents""".stripMargin),

    // multimodal REAL audio round-trip: per-doc RIFF-WAVE (16-bit mono
    // PCM, 8 kHz, id-derived length and constant sample) encoded and
    // decoded with javax.sound.sampled; format/frames/duration/first
    // sample all closed-form for the oracle
    Query("multimodal_audio_decode", (s, dir) => {
      Multimodal.decodeAudio(
        Multimodal.synthEncodedMedia(Tables.documents(s, dir), "audio"))
    },
      """SELECT doc_id AS media_id,
        |  CAST(8000 AS INT) AS sample_rate,
        |  CAST(16 AS INT) AS bits,
        |  CAST(1 AS INT) AS channels,
        |  800 + doc_id % 800 AS n_frames,
        |  (800 + doc_id % 800) / 8.0 AS dur_ms,
        |  CAST((doc_id % 100) * 64 AS INT) AS first_sample
        |FROM documents""".stripMargin),

    // multimodal REAL video round-trip: per-doc MJPEG-in-AVI written by
    // the fixture (RIFF container + JDK-imageio JPEG frames, all fields
    // id-derived) → RIFF walk + per-frame JPEG decode; header facts,
    // frame counts, and decoded dimensions closed-form for the oracle
    Query("multimodal_video_decode", (s, dir) => {
      Multimodal.decodeVideo(
        Multimodal.synthEncodedMedia(Tables.documents(s, dir), "video"))
    },
      // every header field, frame count, and decoded dimension of the
      // MJPEG-AVI fixture is a closed-form function of doc_id; JPEG pixel
      // VALUES are lossy and stay out of the contract
      """SELECT doc_id AS media_id,
        |  CAST(16 + (doc_id % 4) * 8 AS INT) AS width,
        |  CAST(8 + (doc_id % 3) * 8 AS INT) AS height,
        |  CAST(2 + doc_id % 4 AS INT) AS n_frames,
        |  CAST(40000 + (doc_id % 5) * 20000 AS BIGINT) AS us_per_frame,
        |  CAST((2 + doc_id % 4) * (40000 + (doc_id % 5) * 20000) // 1000
        |    AS BIGINT) AS dur_ms,
        |  CAST(2 + doc_id % 4 AS INT) AS frames_decoded,
        |  CAST(16 + (doc_id % 4) * 8 AS INT) AS first_w,
        |  CAST(8 + (doc_id % 3) * 8 AS INT) AS first_h
        |FROM documents""".stripMargin),

    // multimodal REAL keyframe sampling: decode only every 2nd AVI
    // frame — the production "sample then decode" order (never decode
    // what the sample drops)
    Query("multimodal_video_frames", (s, dir) => {
      Multimodal.sampleVideoFrames(
        Multimodal.synthEncodedMedia(Tables.documents(s, dir), "video"),
        everyNth = 2)
    },
      """SELECT doc_id AS media_id,
        |  CAST(f AS INT) AS frame_no,
        |  CAST(16 + (doc_id % 4) * 8 AS INT) AS frame_w,
        |  CAST(8 + (doc_id % 3) * 8 AS INT) AS frame_h
        |FROM documents,
        |LATERAL (SELECT unnest(range(0, 2 + doc_id % 4, 2)) AS f) t""".stripMargin)
  )
}
