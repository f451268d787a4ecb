package graft.queries

import org.apache.spark.sql.functions._
import graft.{Parity, QuerySpec}
import graft.QuerySpec.sql
import graft.model.Tables
import graft.ops.Multimodal

/** Multimodal plumbing over media tables derived deterministically from
  * `documents`. mm1 proves opaque binary columns flow through the
  * relational surface (oracle on byte lengths, raw utf-8 payloads — see
  * Multimodal.mediaFromDocuments); mm2 runs the partition-batched REAL
  * header decode over genuine PNG/WAV/AVI container bytes
  * (Multimodal.mediaWithHeaders → parseFeatures).
  */
object MultimodalQueries {

  val all: Seq[QuerySpec] = Seq(

    sql("mm1_payload_stats",
      "Multimodal: per-kind counts + byte volumes over opaque binary payloads (no decode)",
      """SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        | COUNT(*) AS n_items,
        | CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        | ROUND(AVG(octet_length(encode(text))), 4) AS avg_bytes
        | FROM documents GROUP BY 1 ORDER BY kind""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Multimodal.payloadStats(
          Multimodal.mediaFromDocuments(Tables.documents(s, d)))
          .orderBy("kind")
    },

    sql("mm2_decode_features",
      "Multimodal: REAL header decode — PNG/WAV/AVI magic-byte sniff + header-field parse out of the payload bytes (oracle recomputes the fields from the shared generative formulas)",
      // Two independent paths to the same row: Spark PARSES the container
      // bytes; DuckDB recomputes each field from MediaCodec's generative
      // formulas (doc_id-deterministic) plus the fixed header sizes
      // (PNG 33 B, WAV 44 B, AVI 88 B). A wrong offset/endianness/layout
      // on either side breaks the hash match.
      """SELECT doc_id AS media_id,
        | CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind_sniffed,
        | CAST(octet_length(encode(text)) + CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 33 WHEN 1 THEN 44 ELSE 88 END AS BIGINT) AS n_bytes,
        | CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 64 + doc_id % 960 WHEN 2 THEN 320 + (doc_id % 4) * 160 END AS INTEGER) AS width,
        | CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 64 + (doc_id * 7) % 960 WHEN 2 THEN 240 + (doc_id % 4) * 120 END AS INTEGER) AS height,
        | CAST(CASE CAST(doc_id % 3 AS INT) WHEN 1 THEN 8000 + (doc_id % 5) * 8000 END AS INTEGER) AS sample_rate,
        | CAST(CASE CAST(doc_id % 3 AS INT) WHEN 1 THEN 1 + doc_id % 2 END AS INTEGER) AS channels,
        | CAST(CASE CAST(doc_id % 3 AS INT) WHEN 2 THEN 1 + doc_id % 240 END AS INTEGER) AS n_frames
        | FROM documents ORDER BY media_id""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Multimodal.parseFeatures(
          Multimodal.mediaWithHeaders(Tables.documents(s, d)))
          .toDF()
          .orderBy("media_id")
    },

    sql("mm3_chunk_dedup",
      "Multimodal: chunk-level BINARY dedup — md5 per 64-byte payload block, media pairs sharing >= 2 distinct chunks (repeated byte runs across the corpus, no codec needed)",
      // the oracle slices the text (pure-ASCII corpus, so char offsets ==
      // byte offsets) where the engine slices the binary payload — same
      // bytes, same md5s, independently derived
      """WITH ch AS (SELECT doc_id AS media_id,
        |  UNNEST(list_distinct(list_transform(range(0, CAST(ceil(length(text) / 64.0) AS INT)),
        |    i -> md5(substring(text, i*64+1, 64))))) AS chunk
        |  FROM documents)
        |SELECT a.media_id AS id1, b.media_id AS id2, COUNT(*) AS n_shared
        | FROM ch a JOIN ch b ON a.chunk = b.chunk AND a.media_id < b.media_id
        | GROUP BY 1, 2 HAVING COUNT(*) >= 2
        | ORDER BY id1, id2""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Multimodal.sharedChunkPairs(
          Multimodal.mediaFromDocuments(Tables.documents(s, d)), minShared = 2)
          .orderBy("id1", "id2")
    }.withBench(Parity.Exact) { (s, d) =>
      // production: hot-chunk df-cap on (all-zero blocks / shared headers
      // would otherwise fan the bucket join out quadratically)
      Multimodal.sharedChunkPairs(
        Multimodal.mediaFromDocuments(Tables.documents(s, d)),
        minShared = 2, maxDf = Some(graft.ops.Dedup.DefaultMaxDf))
    },

    sql("mm4_frame_sample",
      "Multimodal: strided frame-offset sampling over VIDEO payloads — every 4th 64-byte block index as a frame manifest (the plan-which-frames-to-decode step a video featurizer runs BEFORE any codec; pure Catalyst sequence+explode, zero decode, zero shuffle). Oracle recomputes the block grid from text length + the 88-byte AVI header size — independent of the engine's byte plumbing",
      """WITH v AS (SELECT doc_id, octet_length(encode(text)) + 88 AS len
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT doc_id AS media_id,
        |  UNNEST(range(0, (len - 1) // 64 + 1, 4)) AS frame_block
        | FROM v ORDER BY media_id, frame_block""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Multimodal.frameOffsets(
          Multimodal.mediaWithHeaders(Tables.documents(s, d)).toDF(),
          blockSize = 64, stride = 4)
          .select(col("media_id"),
            explode(col("frame_blocks")).as("frame_block"))
          .orderBy("media_id", "frame_block")
    },

    sql("mm5_audio_energy", {
      "Multimodal: frame-level PCM ENERGY — the WAV payload body decoded as little-endian signed int16 samples (real sample math, past mm2's headers), sum-of-squares per 32-sample frame; the silence-detection/loudness primitive. Spark parses the CONTAINER BYTES (45+), the oracle independently rebuilds samples from the generative text — agreement requires the header skip, endianness, and two's complement all correct. Map-side only, zero shuffles, all-integer"
    }, {
      // the signed sample value, shared across the CASE arms
      def x(fh: String) =
        s"('0x' || substr($fh, i*4+3, 2) || substr($fh, i*4+1, 2))::BIGINT"
      s"""WITH audio AS (SELECT doc_id AS media_id, hex(encode(text)) AS h
         |  FROM documents WHERE doc_id % 3 = 1),
         |sized AS (SELECT media_id, h, CAST(length(h) // 4 AS INT) AS nsamp
         |  FROM audio WHERE length(h) // 4 > 0),
         |frames AS (SELECT media_id, h, nsamp,
         |  CAST(UNNEST(range((nsamp + 31) // 32)) AS INT) AS frame FROM sized),
         |f2 AS (SELECT media_id, frame, LEAST(32, nsamp - frame*32) AS ns,
         |  substr(h, frame*128 + 1, LEAST(32, nsamp - frame*32)*4) AS fh FROM frames)
         |SELECT media_id, frame, CAST(ns AS BIGINT) AS n_samples,
         |  CAST(list_sum(list_transform(range(ns), i ->
         |    CASE WHEN ${x("fh")} >= 32768
         |     THEN (${x("fh")} - 65536) * (${x("fh")} - 65536)
         |     ELSE ${x("fh")} * ${x("fh")} END)) AS BIGINT) AS energy
         | FROM f2 ORDER BY media_id, frame""".stripMargin.replace("\n", "")
    }) {
      (s, d) =>
        // widened: the int16 decode + per-frame energy is the heaviest
        // map stage of the mm family and the single-row-group scan would
        // run it in one task (r18; size-gated, no-op at cluster scale)
        Multimodal.audioFrameEnergy(
          Multimodal.mediaWithHeaders(Tables.widened(s, d, "documents")).toDF(),
          frameSamples = 32)
          .orderBy("media_id", "frame")
    }
  )
}
