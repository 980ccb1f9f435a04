package graft.queries

import graft.QueryDef
import graft.multimodal.MediaColumns
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing under the oracle gate: documents stand in
  * for a media table (content = UTF-8 bytes, JSON metadata sidecar).
  * Two decode paths, both oracle-checked:
  *  - IMAGES decode FOR REAL (javax.imageio): q166 synthesizes actual
  *    PNG bytes whose pixels are a deterministic function of document
  *    columns, so DuckDB replays the decoded width/height/features in
  *    SQL without being able to decode PNG itself. Rows typed 'image'
  *    whose bytes aren't an image surface NULLs (q62 pins that) — the
  *    stub is unreachable for images.
  *  - audio/video keep the documented md5 STUB (no codec libs in this
  *    container), reproducible in ANSI SQL, so the partition-wise
  *    plumbing stays hash-checked end to end.
  */
object MultimodalQueries {

  /** documents → media frame: binary content + JSON sidecar. */
  private def mediaFrame(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("media_type"),
      col("text").cast("binary").as("content"),
      concat(lit("{\"width\": "), (col("n_chars") % 640).cast("string"),
        lit(", \"height\": "), ((col("n_chars") * 7) % 480).cast("string"),
        lit("}")).as("meta"))

  val defs: Seq[QueryDef] = Seq(

    // Partition-wise feature extraction over binary media columns
    // (mapPartitions batching — the Scala shape of mapInPandas). f0_byte
    // recovers the first stub-feature's source byte so the decode path is
    // value-checked end-to-end. Image- and audio-typed rows carry TEXT
    // bytes — not decodable media — so the real-decode dispatch must
    // surface them as NULL width/height/features (the oracle pins
    // exactly that; the happy paths are q166's and q168's).
    QueryDef("q62_media_features", Seq("S14"),
      """WITH media AS (
           SELECT doc_id AS media_id,
             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
               ELSE 'video' END AS media_type,
             text, n_chars FROM documents)
         SELECT media_id, media_type,
           CAST(coalesce(strlen(text), 0) AS INT) AS n_bytes,
           CASE WHEN media_type <> 'video' THEN NULL
                ELSE CAST(n_chars % 640 AS INT) END AS width,
           CASE WHEN media_type <> 'video' THEN NULL
                ELSE CAST((n_chars * 7) % 480 AS INT) END AS height,
           CASE WHEN media_type <> 'video' OR coalesce(strlen(text), 0) = 0 THEN NULL
                ELSE ('0x' || substring(md5(text), 1, 2))::INT END AS f0_byte
         FROM media""") { (s, d) =>
      MediaColumns.extractFeatures(mediaFrame(s, d), 16)
        .select(col("media_id"), col("media_type"), col("n_bytes"),
          col("width"), col("height"),
          (element_at(col("features"), 1) * 128 + 128).cast("int").as("f0_byte"))
    },

    // Frame sampling for video rows: one output row per sampled byte
    // offset — a generator (no shuffle), each frame fingerprinted by the
    // stub decode.
    QueryDef("q63_frame_sample", Seq("U6", "S14"),
      """WITH media AS (
           SELECT doc_id AS media_id, text FROM documents
           WHERE CAST(doc_id % 3 AS INT) = 2 AND coalesce(strlen(text), 0) > 0),
         offs AS (
           SELECT media_id, text,
             unnest(generate_series(0, CAST(strlen(text) AS BIGINT) - 1, 64)) AS frame_offset
           FROM media)
         SELECT media_id, CAST(frame_offset AS INT) AS frame_offset,
           md5(text || CAST(frame_offset AS VARCHAR)) AS frame_fp
         FROM offs""") { (s, d) =>
      MediaColumns.sampleFrames(mediaFrame(s, d), 64)
    },

    // Perceptual near-duplicate media: dHash over the decoded feature
    // vector (bit i = features[i] > features[i+1] — with a real decoder
    // these are downsampled pixel intensities; the stub's md5 features
    // keep it oracle-reproducible), then the same 4×15-bit banded
    // Hamming join as text simhash — pigeonhole-exact at threshold 3,
    // never an all-pairs scan. The feature→order mapping is monotone
    // ((b-128)/128f is exact in float32), so byte comparisons in SQL
    // reproduce the float comparisons bit-for-bit.
    // Image- and audio-typed rows drop out up front: their text bytes
    // don't decode, so their features are NULL (the real-decode
    // contract) — the oracle keeps only the video rows (doc_id % 3 = 2)
    // to match.
    QueryDef("q98_media_neardup", Seq("S14", "A10"),
      """WITH media AS (
           SELECT doc_id AS media_id, text FROM documents
           WHERE coalesce(strlen(text), 0) > 0 AND CAST(doc_id % 3 AS INT) = 2),
         bytes AS (
           SELECT media_id, [('0x' || substring(md5(text), 2*j+1, 2))::BIGINT FOR j IN generate_series(0, 15)] AS bs
           FROM media),
         sig AS (
           SELECT media_id, CAST(list_sum([CASE WHEN bs[(i%16)+1] > bs[((i+1)%16)+1] THEN 1::BIGINT << i ELSE 0::BIGINT END FOR i IN generate_series(0, 59)]) AS BIGINT) AS dhash
           FROM bytes)
         SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
           CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
         FROM sig a JOIN sig b ON a.media_id < b.media_id
         WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""") { (s, d) =>
      val feats = MediaColumns.extractFeatures(mediaFrame(s, d), 64)
        .filter(col("features").isNotNull)
      val dhash = (0 until 60).map { i =>
        when(element_at(col("features"), i + 1) > element_at(col("features"), i + 2),
          lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
      graft.dedup.TextDedup.simHashNearDup(
        feats.select(col("media_id"), dhash.as("dhash")),
        "media_id", "dhash", maxHamming = 3)
    },

    // REAL IMAGE DECODE UNDER THE ORACLE GATE — the q62 stub boundary
    // closed: the media table carries ACTUAL PNG bytes (synthesized at
    // staging time by MediaColumns.solidPng — JDK ImageIO encode — with
    // pixel dimensions and gray level deterministic functions of
    // document columns), and the serving side decodes them for real
    // through javax.imageio: width/height come from the decoded raster,
    // features are grid-mean luminances of the decoded pixels. DuckDB
    // cannot decode PNG — and doesn't need to: because the synthesis is
    // parametric, the oracle replays what the decode MUST recover
    // (1+n_chars%64 wide, 1+(n_chars*7)%48 tall, every grid cell's mean
    // = gray/255 on a solid fill — luminance (r+g+b)/3 is exact for
    // gray pixels, so round(f*255) recovers the integer gray with no
    // seam). A decoder that read the sidecar, hashed the bytes, or
    // mis-walked the grid would hash-mismatch. The PNG bytes are built
    // once per corpus (staged dir); decode is row-local mapPartitions —
    // blobs never shuffle, only the (id, dims, features) projection
    // moves.
    QueryDef("q166_image_decode", Seq("S14"),
      """WITH m AS (
           SELECT doc_id AS media_id,
             1 + CAST(n_chars % 64 AS INT) AS width,
             1 + CAST((n_chars * 7) % 48 AS INT) AS height,
             CAST(n_chars % 256 AS INT) AS gray
           FROM documents)
         SELECT media_id, width, height,
           16 AS n_features, gray AS f0_gray, gray AS f15_gray
         FROM m""") { (s, d) =>
      val dir = graft.sources.ZOrder.ensureStagedDir(
        "graft_media_png", d, s"$d/documents.parquet") { target =>
        val png = udf((w: Int, h: Int, g: Int) => MediaColumns.solidPng(w, h, g))
        Tables.documents(s, d).select(
            col("doc_id").as("media_id"),
            lit("image").as("media_type"),
            png((lit(1) + col("n_chars") % 64).cast("int"),
              (lit(1) + (col("n_chars") * 7) % 48).cast("int"),
              (col("n_chars") % 256).cast("int")).as("content"),
            lit(null).cast("string").as("meta"))
          .write.mode("overwrite").parquet(target)
      }
      MediaColumns.extractFeatures(StateFs.readParquet(s, dir), dims = 16)
        .select(col("media_id"), col("width"), col("height"),
          size(col("features")).as("n_features"),
          round(element_at(col("features"), 1) * 255).cast("int").as("f0_gray"),
          round(element_at(col("features"), 16) * 255).cast("int").as("f15_gray"))
    },

    // REAL AUDIO DECODE UNDER THE ORACLE GATE — q166's pattern applied
    // to the second modality: the media table carries ACTUAL WAV bytes
    // (MediaColumns.solidWav — JDK AudioSystem encode — with sample
    // rate, frame count and amplitude deterministic functions of
    // document columns) and the serving side decodes them for real
    // through javax.sound.sampled: sample rate / frame count from the
    // decoded header (the featureSchema's width/height for audio),
    // features = windowed RMS amplitude of the decoded samples. DuckDB
    // cannot parse WAV — and doesn't need to: on a constant-amplitude
    // signal every window's RMS is amp/32768 EXACTLY (identical
    // squares: sum/n then √ then a power-of-two divide are all exact),
    // so round(f·32768) recovers the integer amplitude with no seam. A
    // decoder that hashed the bytes, misread the little-endian samples,
    // or mis-windowed the frames would hash-mismatch.
    QueryDef("q168_audio_decode", Seq("S14"),
      """WITH m AS (
           SELECT doc_id AS media_id,
             8000 + CAST(n_chars % 8 AS INT) * 1000 AS width,
             50 + CAST(n_chars % 100 AS INT) AS height,
             CAST((n_chars * 37) % 30000 AS INT) AS amp
           FROM documents)
         SELECT media_id, width, height,
           8 AS n_features, amp AS f0_amp, amp AS f7_amp
         FROM m""") { (s, d) =>
      val dir = graft.sources.ZOrder.ensureStagedDir(
        "graft_media_wav", d, s"$d/documents.parquet") { target =>
        val wav = udf((r: Int, f: Int, a: Int) => MediaColumns.solidWav(r, f, a))
        Tables.documents(s, d).select(
            col("doc_id").as("media_id"),
            lit("audio").as("media_type"),
            wav((lit(8000) + (col("n_chars") % 8) * 1000).cast("int"),
              (lit(50) + col("n_chars") % 100).cast("int"),
              ((col("n_chars") * 37) % 30000).cast("int")).as("content"),
            lit(null).cast("string").as("meta"))
          .write.mode("overwrite").parquet(target)
      }
      MediaColumns.extractFeatures(StateFs.readParquet(s, dir), dims = 8)
        .select(col("media_id"), col("width"), col("height"),
          size(col("features")).as("n_features"),
          round(element_at(col("features"), 1) * 32768).cast("int").as("f0_amp"),
          round(element_at(col("features"), 8) * 32768).cast("int").as("f7_amp"))
    },

    // REAL FRAME DECODE UNDER THE ORACLE GATE — the frame-sampling stub
    // (q63's byte offsets) upgraded to an actual multi-frame decode for
    // the one video-ish container the JDK reads: animated GIF. The
    // media table carries real animated GIFs (MediaColumns.animatedGif
    // — GIFImageWriter sequence API — frame count, pixel dims and each
    // frame's gray level parametric in document columns) and serving
    // decodes EVERY frame through ImageIO's multi-image reader: one row
    // per decoded frame with true width/height and the frame's mean
    // luminance. GIF is palette-based, so a solid frame round-trips its
    // gray exactly and the oracle replays the whole per-frame table
    // (frame i of doc d must surface gray (13·n_chars + 37·i) % 256 —
    // a decoder that misordered frames, misread the palette, or
    // collapsed the sequence to its first frame would hash-mismatch).
    // Containers the JDK cannot decode remain q63's documented
    // byte-offset stub.
    QueryDef("q173_video_frames", Seq("S14", "U6"),
      """WITH m AS (
           SELECT doc_id AS media_id,
             1 + CAST(n_chars % 16 AS INT) AS width,
             1 + CAST((n_chars * 3) % 12 AS INT) AS height,
             2 + CAST(n_chars % 4 AS INT) AS nf,
             CAST((n_chars * 13) % 256 AS INT) AS base
           FROM documents)
         SELECT media_id, CAST(g.i AS INT) AS frame_idx, width, height,
           CAST((base + g.i * 37) % 256 AS INT) AS f_gray
         FROM m, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS i) g""") { (s, d) =>
      val dir = graft.sources.ZOrder.ensureStagedDir(
        "graft_media_gif", d, s"$d/documents.parquet") { target =>
        val gif = udf((w: Int, h: Int, n: Int, base: Int) =>
          MediaColumns.animatedGif(w, h, n, base))
        Tables.documents(s, d).select(
            col("doc_id").as("media_id"),
            lit("video").as("media_type"),
            gif((lit(1) + col("n_chars") % 16).cast("int"),
              (lit(1) + (col("n_chars") * 3) % 12).cast("int"),
              (lit(2) + col("n_chars") % 4).cast("int"),
              ((col("n_chars") * 13) % 256).cast("int")).as("content"),
            lit(null).cast("string").as("meta"))
          .write.mode("overwrite").parquet(target)
      }
      MediaColumns.sampleFramesDecoded(StateFs.readParquet(s, dir))
        .select(col("media_id"), col("frame_idx"), col("width"), col("height"),
          round(col("f_mean") * 255).cast("int").as("f_gray"))
    },
  )
}
