package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing — north-star component.
  *
  * Model: media ride through the engine as opaque `binary` payload columns
  * with typed metadata alongside (SURVEY.md §7.6 "multimodal columns ride
  * through untouched"). Relational ops (filter/join/group/sink) treat the
  * payload as bytes; decode/feature-extraction runs batch-wise per
  * partition — the Scala analog of Python's `mapInPandas`: an
  * `Iterator[row] => Iterator[row]` function applied once per partition,
  * so a real decoder would amortize model/codec initialization across the
  * partition and never touch the driver.
  *
  * Decode depth: [[parseFeatures]] does REAL byte-level container parsing
  * (PNG/WAV/AVI magic + header structs); only pixel/sample decode — which
  * needs codecs this container lacks — is out of scope. Swapping a JNI/
  * codec call into the same mapPartitions seam changes only the parser.
  */
object Multimodal {

  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])

  /** Derive a deterministic media table from the `documents` corpus:
    * payload = utf-8 bytes of the text (an opaque stand-in), kind cycles
    * image/audio/video by id. Pure column ops — this is how a real media
    * manifest (id, kind, bytes) enters the engine. */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(lit(Array("image", "audio", "video")), (col("doc_id") % 3).cast("int") + 1).as("kind"),
      col("text").cast("binary").as("payload"))

  /** Fixed-size chunk fingerprints of a binary payload: md5 per
    * `chunkBytes` block (last block ragged), dedup'd within the payload.
    * The substrate for chunk-level binary dedup — finding repeated byte
    * runs across a media corpus (shared intros, copied segments,
    * re-encodes of the same master) without any codec. Empty AND NULL
    * payloads both return an EMPTY ARRAY (a null payload fails the
    * `octet_length > 0` predicate and takes the `otherwise` branch) —
    * either way they contribute no chunks after the downstream explode,
    * matching the mm3 oracle's `range(0, ceil(len/64))`, which is empty
    * for len = 0 and NULL (also explode-dropped) for NULL. */
  def chunkHashes(payload: Column, chunkBytes: Int = 64): Column = {
    val nChunks = ceil(octet_length(payload) / lit(chunkBytes.toDouble)).cast("int")
    when(octet_length(payload) > 0,
      array_distinct(transform(sequence(lit(0), nChunks - 1),
        i => md5(payload.substr(i * chunkBytes + 1, lit(chunkBytes))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Media pairs sharing at least `minShared` distinct chunk hashes — the
    * dd3 shared-bucket join shape on binary chunks instead of word
    * shingles. `maxDf` caps hot chunks (all-zero blocks, shared codec
    * headers) exactly like the shingle df-cap, bounding bucket fan-out at
    * corpus scale. */
  def sharedChunkPairs(media: DataFrame, minShared: Long = 2,
                       chunkBytes: Int = 64, maxDf: Option[Long] = None): DataFrame = {
    val chRaw = media.select(col("media_id").as("doc_id"),
      explode(chunkHashes(col("payload"), chunkBytes)).as("shingle"))
    val ch = maxDf.map(Dedup.capDocumentFrequency(chRaw, _)).getOrElse(chRaw)
    ch.as("a")
      .join(ch.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Header-parsed media features: everything below `kind_sniffed` comes
    * from the PAYLOAD BYTES, never from row metadata. Fields not carried
    * by a format are null (audio has no width; image has no sample rate). */
  final case class ParsedMedia(
      media_id: Long, kind_sniffed: String, n_bytes: Long,
      width: Option[Int], height: Option[Int],
      sample_rate: Option[Int], channels: Option[Int], n_frames: Option[Int])

  /** REAL byte-level decode: container sniffing + header-field extraction
    * over genuine PNG / WAV(RIFF) / AVI(RIFF) layouts. This is the honest
    * no-codec decode level — magic bytes and header structs are parsed
    * from the binary exactly as a media pipeline's manifest-build step
    * would; only pixel/sample decode (which needs codecs this container
    * lacks) remains out of scope. mapPartitions for the same
    * amortize-init-per-partition shape as a codec decode; the parser
    * itself is allocation-light (ByteBuffer views, no payload copy).
    * Unrecognized/truncated payloads degrade to kind_sniffed='unknown'
    * with null fields — decode never throws on garbage bytes. */
  def parseFeatures(media: Dataset[MediaRow]): Dataset[ParsedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map(m => MediaCodec.parse(m.media_id, m.payload))
    }
  }

  /** Derive a header-bearing media table from `documents`: payload =
    * a REAL container header (PNG / WAV / AVI, field values deterministic
    * in doc_id) followed by the utf-8 text as the opaque body. This is a
    * TEST-CORPUS GENERATOR — real pipelines ingest real bytes — but the
    * bytes it emits are honest container layouts, so the parse path it
    * feeds is the production one. Typed map (not pure column ops): byte-
    * level header assembly is per-row imperative work, the sanctioned
    * mapPartitions/map seam. */
  def mediaWithHeaders(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      val body = text.getBytes("UTF-8")
      val payload = (id % 3) match {
        case 0 => MediaCodec.encodePng(MediaCodec.imgWidth(id), MediaCodec.imgHeight(id), body)
        case 1 => MediaCodec.encodeWav(MediaCodec.audioRate(id), MediaCodec.audioChannels(id), body)
        case _ => MediaCodec.encodeAvi(MediaCodec.vidWidth(id), MediaCodec.vidHeight(id), MediaCodec.vidFrames(id), body)
      }
      MediaRow(id, Seq("image", "audio", "video")((id % 3).toInt), payload)
    }
  }

  /** Frame-offset sampling for video payloads: every `stride`-th block
    * offset as a frame index — pure Catalyst (sequence/transform), no
    * decode needed for manifest-level planning. */
  def frameOffsets(media: DataFrame, blockSize: Int = 1024, stride: Int = 4): DataFrame =
    media.filter(col("kind") === "video" && length(col("payload")) > 0)
      .select(col("media_id"),
        // empty payloads are filtered above: sequence(0, -1, +stride)
        // would otherwise throw on illegal boundaries
        sequence(lit(0L),
          floor((length(col("payload")).cast("long") - 1) / blockSize).cast("long"),
          lit(stride.toLong)).as("frame_blocks"))

  /** Payload-level stats usable WITHOUT decoding (the relational surface
    * over opaque media): per-kind counts and byte volumes. */
  def payloadStats(media: DataFrame): DataFrame =
    media.groupBy("kind").agg(
      count(lit(1)).as("n_items"),
      sum(length(col("payload")).cast("long")).as("total_bytes"),
      round(avg(length(col("payload"))), 4).as("avg_bytes"))

  /** Frame-level PCM ENERGY over WAV payloads — the first ACTUAL sample
    * math in the multimodal family (mm2 stops at headers): skip the
    * 44-byte canonical WAV header, read the body as little-endian signed
    * 16-bit PCM, and emit Σ s² per `frameSamples`-sample frame (the
    * silence-detection / loudness-segmentation primitive an audio
    * featurizer runs before any model).
    *
    * Pure Catalyst, zero UDFs and ZERO SHUFFLES: the body is hex-dumped
    * once per row, frames explode map-side carrying only their own hex
    * slice, and each frame's energy is one `aggregate` lambda doing the
    * hex→int16 two's-complement decode per sample. All-integer output —
    * s² ≤ 2³⁰, so a frame of up to 2²³ samples fits a long. A trailing
    * odd byte (no low/high pair) is dropped, matching the oracle's
    * integer division. */
  def audioFrameEnergy(media: DataFrame, frameSamples: Int = 32): DataFrame = {
    require(frameSamples >= 1, s"frameSamples must be >= 1, got $frameSamples")
    val body = col("payload").substr(lit(45), octet_length(col("payload")) - 44)
    val prep = media
      .filter(col("kind") === "audio" && octet_length(col("payload")) > 44)
      .select(col("media_id"), hex(body).as("__hex"))
      .withColumn("__nsamp", (length(col("__hex")) / 4).cast("int"))
      .filter(col("__nsamp") > 0)
    val frames = prep
      .select(col("media_id"), col("__hex"), col("__nsamp"),
        explode(sequence(lit(0),
          ((col("__nsamp") + (frameSamples - 1)) / frameSamples).cast("int") - 1))
          .as("frame"))
      .withColumn("__ns",
        least(lit(frameSamples), col("__nsamp") - col("frame") * frameSamples))
      .withColumn("__fhex",
        col("__hex").substr(col("frame") * (frameSamples * 4) + 1, col("__ns") * 4))
    def sample(i: Column): Column = {
      // little-endian: first byte is the low one; conv gives unsigned,
      // the when() applies 16-bit two's complement
      val v = conv(concat(col("__fhex").substr(i * 4 + 3, lit(2)),
        col("__fhex").substr(i * 4 + 1, lit(2))), 16, 10).cast("long")
      when(v >= 32768L, v - 65536L).otherwise(v)
    }
    // decode each sample ONCE via the inner transform, then square in the
    // fold — `acc + sample(i)·sample(i)` would run the hex decode twice
    frames.select(col("media_id"), col("frame"),
      col("__ns").cast("long").as("n_samples"),
      aggregate(transform(sequence(lit(0), col("__ns") - 1), i => sample(i)),
        lit(0L), (acc, v) => acc + v * v).as("energy"))
  }
}

/** Minimal real-container codec: byte-exact PNG signature+IHDR, canonical
  * 44-byte WAV/RIFF header, and RIFF-AVI with the `avih` main header — the
  * three layouts [[Multimodal.parseFeatures]] sniffs and parses. Encoders
  * exist for corpus generation; the PARSER is the production artifact.
  *
  * Deterministic field formulas (`imgWidth` etc.) are the generative model
  * shared with the DuckDB oracle: Spark reads the values back OUT OF THE
  * BYTES while the oracle recomputes them from doc_id, so the two paths
  * only agree if the byte layout and the parse are both right. */
object MediaCodec {

  import java.nio.{ByteBuffer, ByteOrder}

  // generative field formulas — mirrored verbatim in the mm2 oracle SQL
  def imgWidth(id: Long): Int = (64 + id % 960).toInt
  def imgHeight(id: Long): Int = (64 + (id * 7) % 960).toInt
  def audioRate(id: Long): Int = (8000 + (id % 5) * 8000).toInt
  def audioChannels(id: Long): Int = (1 + id % 2).toInt
  def vidWidth(id: Long): Int = (320 + (id % 4) * 160).toInt
  def vidHeight(id: Long): Int = (240 + (id % 4) * 120).toInt
  def vidFrames(id: Long): Int = (1 + id % 240).toInt

  private val PngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  /** PNG signature + IHDR chunk (length, type, 13-byte body, real CRC32):
    * 33 header bytes, then the body verbatim. Width/height big-endian at
    * offsets 16/20 per the PNG spec. */
  def encodePng(width: Int, height: Int, body: Array[Byte]): Array[Byte] = {
    val ihdrBody = ByteBuffer.allocate(17) // "IHDR" + 13-byte chunk body
    ihdrBody.put("IHDR".getBytes("US-ASCII"))
    ihdrBody.putInt(width).putInt(height)
    ihdrBody.put(8.toByte).put(6.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    val crc = new java.util.zip.CRC32
    crc.update(ihdrBody.array())
    val out = ByteBuffer.allocate(33 + body.length)
    out.put(PngSig).putInt(13).put(ihdrBody.array()).putInt(crc.getValue.toInt).put(body)
    out.array()
  }

  /** Canonical 44-byte PCM WAV header (RIFF/WAVE/fmt/data), little-endian:
    * channels at offset 22, sample rate at 24. */
  def encodeWav(sampleRate: Int, channels: Int, body: Array[Byte]): Array[Byte] = {
    val bitsPerSample = 16
    val blockAlign = channels * bitsPerSample / 8
    val out = ByteBuffer.allocate(44 + body.length).order(ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + body.length)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort)
      .putInt(sampleRate).putInt(sampleRate * blockAlign)
      .putShort(blockAlign.toShort).putShort(bitsPerSample.toShort)
      .put("data".getBytes("US-ASCII")).putInt(body.length)
      .put(body)
    out.array()
  }

  /** RIFF-AVI with the 56-byte `avih` main header inside LIST/hdrl:
    * dwTotalFrames at avih offset 16, dwWidth/dwHeight at 32/36 (all
    * little-endian); 88 header bytes total, then the body. */
  def encodeAvi(width: Int, height: Int, frames: Int, body: Array[Byte]): Array[Byte] = {
    val out = ByteBuffer.allocate(88 + body.length).order(ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(80 + body.length)
      .put("AVI ".getBytes("US-ASCII"))
      .put("LIST".getBytes("US-ASCII")).putInt(68)
      .put("hdrl".getBytes("US-ASCII"))
      .put("avih".getBytes("US-ASCII")).putInt(56)
    val avih = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
    avih.putInt(33367) // dwMicroSecPerFrame ≈ 29.97 fps
    avih.putInt(0).putInt(0).putInt(0)
    avih.putInt(frames) // dwTotalFrames
    avih.putInt(0).putInt(1).putInt(0)
    avih.putInt(width).putInt(height) // dwWidth / dwHeight
    out.put(avih.array()).put(body)
    out.array()
  }

  private def ascii(p: Array[Byte], off: Int, s: String): Boolean =
    p.length >= off + s.length &&
      s.getBytes("US-ASCII").indices.forall(i => p(off + i) == s.charAt(i).toByte)

  /** Sniff the container from magic bytes and extract header fields; pure
    * function of the payload. Anything unrecognized or truncated is
    * ('unknown', nulls) — never a throw, garbage bytes are an expected
    * input class at corpus scale. */
  def parse(mediaId: Long, p: Array[Byte]): Multimodal.ParsedMedia = {
    val n = p.length.toLong
    if (p.length >= 33 && p.take(8).sameElements(PngSig) && ascii(p, 12, "IHDR")) {
      val bb = ByteBuffer.wrap(p) // PNG ints are big-endian (ByteBuffer default)
      Multimodal.ParsedMedia(mediaId, "image", n,
        Some(bb.getInt(16)), Some(bb.getInt(20)), None, None, None)
    } else if (p.length >= 44 && ascii(p, 0, "RIFF") && ascii(p, 8, "WAVE") && ascii(p, 12, "fmt ")) {
      val bb = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
      Multimodal.ParsedMedia(mediaId, "audio", n,
        None, None, Some(bb.getInt(24)), Some(bb.getShort(22).toInt), None)
    } else if (p.length >= 88 && ascii(p, 0, "RIFF") && ascii(p, 8, "AVI ") && ascii(p, 24, "avih")) {
      val bb = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
      // avih struct starts at byte 32: frames @ +16, width/height @ +32/+36
      Multimodal.ParsedMedia(mediaId, "video", n,
        Some(bb.getInt(64)), Some(bb.getInt(68)), None, None, Some(bb.getInt(48)))
    } else {
      Multimodal.ParsedMedia(mediaId, "unknown", n, None, None, None, None, None)
    }
  }
}
