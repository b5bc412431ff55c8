package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column handling: opaque `binary` payloads + typed metadata.
  *
  * The real decode step (image/audio codecs) is STUBBED — the codec
  * libraries are not in this container — with a deterministic fake that
  * derives pseudo-dimensions from the bytes. Everything around the stub is
  * the real Spark plumbing a multimodal corpus needs at scale:
  *  - binary column + struct metadata schema,
  *  - decode hosted in mapPartitions with batch iteration (the Scala
  *    analogue of a Pandas-UDF `mapInPandas` batch loop: one decoder
  *    instance per partition, rows streamed through it),
  *  - byte-level metadata as pure column expressions where no decode is
  *    needed (length, content hash, header peek).
  */
object Multimodal {

  final case class MediaMeta(
      doc_id: Long, width: Int, height: Int, mean_byte: Double, frames: Int)

  /** STUB DECODER — deterministic fake standing in for a real image/video
    * decode (`???` in spirit; runnable so plumbing is testable). Derives
    * pseudo width/height/frame-count from the payload bytes. */
  def stubDecode(id: Long, payload: Array[Byte]): MediaMeta = {
    val n = payload.length
    val w = 16 + (if (n > 0) (payload(0) & 0x7f) else 0)
    val h = 16 + (if (n > 1) (payload(1) & 0x7f) else 0)
    val take = math.min(n, 64)
    val mean = if (take == 0) 0.0
      else payload.take(take).map(b => (b & 0xff).toDouble).sum / take
    MediaMeta(id, w, h, math.rint(mean * 100) / 100, 1 + n / 4096)
  }

  /** Decode stage: binary payloads → typed metadata rows, batched per
    * partition (decoder constructed once per task, not per row). */
  def decode(media: DataFrame): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition "decoder" init would go here (codec contexts etc.)
        it.map { case (id, bytes) => stubDecode(id, bytes) }
      }
  }

  final case class FrameSample(doc_id: Long, frame_idx: Int, frame_sig: String)

  private def md5hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(bytes).map("%02x".format(_)).mkString
  final case class MediaFeature(doc_id: Long, width: Int, height: Int,
      resized_w: Int, resized_h: Int, embedding: Seq[Float])

  /** Frame sampling: pick `k` evenly spaced frame indices per decoded
    * payload and emit one row per sampled frame with a deterministic
    * frame signature (stub for the real frame-grab — the plumbing is the
    * point: a 1→N typed flatMap whose fan-out is bounded by k, so a
    * 10^12-row media table becomes at most k·10^12 frame rows with no
    * shuffle). */
  def frameSample(media: DataFrame, k: Int): Dataset[FrameSample] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val meta = stubDecode(id, bytes)
          val n = math.min(k, meta.frames)
          (0 until n).iterator.map { i =>
            val frameIdx = if (n == 1) 0 else (i.toLong * (meta.frames - 1) / (n - 1)).toInt
            // deterministic stub signature of the "frame": content hash of
            // (payload slice for that frame)
            val from = math.min(bytes.length, frameIdx * 4096)
            val until = math.min(bytes.length, from + 4096)
            FrameSample(id, frameIdx, md5hex(bytes.slice(from, until)))
          }
        }
      }
  }

  /** Resize + feature-extract stage: decode (stub) → aspect-preserving
    * resize arithmetic (real) → fixed-width float feature vector (stub
    * content-derived embedding). The longer side shrinks to at most 100
    * pixels and the vector has 16 components. Batch shape matches a
    * `mapInPandas` feature extractor: one model/codec init per partition,
    * fixed-size vector column out, ready for the Similarity operators. */
  def features(media: DataFrame): Dataset[MediaFeature] = {
    val (maxSide, dim) = (100, 16)
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition "model" init would go here
        it.map { case (id, bytes) =>
          val m = stubDecode(id, bytes)
          val scale = math.min(1.0, maxSide.toDouble / math.max(m.width, m.height))
          // half-up rounding (floor(x+0.5)) — the portable rule every SQL
          // engine's round() applies to positive values, unlike rint's
          // half-even
          val (rw, rh) = (math.max(1, math.floor(m.width * scale + 0.5).toInt),
            math.max(1, math.floor(m.height * scale + 0.5).toInt))
          val emb = (0 until dim).map { d =>
            val b = if (bytes.isEmpty) 0 else bytes(d % bytes.length) & 0xff
            ((b * (d + 1)) % 256) / 255.0f
          }
          MediaFeature(id, m.width, m.height, rw, rh, emb)
        }
      }
  }

  /** Expression-only byte metadata: no decode needed, stays in codegen. */
  def byteMeta(media: DataFrame): DataFrame =
    media.select(col("doc_id"),
      octet_length(col("payload")).as("n_bytes"),
      sha2(col("payload"), 256).as("payload_sha"),
      ascii(substring(col("payload").cast("string"), 1, 1)).as("first_byte"))
}
