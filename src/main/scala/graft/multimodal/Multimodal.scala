package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, batched feature extraction with a STUBBED decoder.
  *
  * The Spark-side contract is real and tested — schema, partitioning, batch
  * iteration shape — while the actual decode (which would need image/audio
  * libs absent from this container) is a clearly-marked deterministic fake
  * keyed off the bytes' md5, so results are stable and oracle-checkable.
  */
object Multimodal {

  // MessageDigest.getInstance synchronizes on the JCA provider registry — a
  // per-row (worse: per-FRAME) call serializes every executor thread at
  // local[32] (same pitfall Drain.md5Local fixes). One digest per thread,
  // reset() per use.
  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  final case class MediaRow(doc_id: Long, kind: String, media: Array[Byte])
  final case class MediaFeatures(
      doc_id: Long, kind: String, byte_len: Int,
      width: Int, height: Int, duration_ms: Int, digest: String)

  /** Wrap a text table into media rows (binary payload = utf-8 bytes) —
    * stand-in for reading real image/audio blobs from parquet `binary`.
    */
  def asMedia(df: DataFrame, idCol: String, textCol: String): Dataset[MediaRow] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("doc_id"),
        encode(col(textCol), "UTF-8").as("media"))
      .withColumn("kind",
        when(ascii(substring(md5(col("media")), 1, 1)) % 3 === 0, "image")
          .when(ascii(substring(md5(col("media")), 1, 1)) % 3 === 1, "audio")
          .otherwise("video"))
      .select("doc_id", "kind", "media")
      .as[MediaRow]
  }

  /** Decoded media metadata: what any real decoder measures. */
  final case class Decoded(width: Int, height: Int, durationMs: Int, digest: String)

  /** The decoder CONTRACT — the seam a real codec implementation drops into
    * without touching any Spark plumbing (the mapPartitions/flatMap shapes,
    * schemas, and partitioning in [[extractFeatures]]/[[sampleFrames]] are
    * decoder-agnostic). Implementations must be:
    *  - '''serializable''' (instances ship inside task closures), and
    *  - '''thread-safe or thread-confined''' (executor threads share a JVM —
    *    keep per-thread native contexts in a ThreadLocal, exactly like
    *    [[StubDecoder]]'s digest; an ffmpeg/JNI impl would pool its codec
    *    contexts the same way).
    */
  trait MediaDecoder extends Serializable {
    def decode(bytes: Array[Byte]): Decoded
    /** Digest of the frame at `offsetMs` (a real impl returns a frame
      * fingerprint or a storage key for the grabbed frame).
      */
    def frameDigest(bytes: Array[Byte], offsetMs: Int): String
  }

  /** STUB decoder — the default in this sandbox (no image/audio/video codecs
    * ship in the container): "decoded" dimensions are a deterministic
    * function of the payload digest (md5), so results are stable and
    * oracle-checkable while the batched plumbing stays real.
    */
  object StubDecoder extends MediaDecoder {
    override def decode(bytes: Array[Byte]): Decoded = {
      val digest = md5Local.get()
      digest.reset()
      val md = digest.digest(bytes)
      val hex = md.map(b => f"${b & 0xff}%02x").mkString
      // ??? real decode goes here — container has no image/audio codecs.
      // Fake dimensions derive from the digest's hex chars (oracle-checkable).
      Decoded(
        (hex(0).toInt * 256 + hex(1).toInt) % 1920,
        (hex(2).toInt * 256 + hex(3).toInt) % 1080,
        (hex(4).toInt * 256 + hex(5).toInt) * 10,
        hex)
    }

    override def frameDigest(bytes: Array[Byte], offsetMs: Int): String = {
      val md = md5Local.get()
      md.reset()
      md.update(bytes)
      md.update(java.nio.ByteBuffer.allocate(4).putInt(offsetMs).array())
      // ??? real frame grab goes here — container has no video codecs.
      md.digest().take(4).map(b => f"${b & 0xff}%02x").mkString
    }
  }

  /** Batched feature extraction over the media column. Partition-parallel;
    * each partition streams its rows through the decoder without
    * materializing the partition in memory.
    */
  def extractFeatures(media: Dataset[MediaRow],
                      decoder: MediaDecoder = StubDecoder): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val d = decoder.decode(r.media)
        MediaFeatures(r.doc_id, r.kind, r.media.length,
          d.width, d.height, d.durationMs, d.digest)
      }
    }
  }

  final case class Frame(doc_id: Long, frame_idx: Int, offset_ms: Int,
                         frame_digest: String)

  /** Frame sampling: `n` evenly spaced frames per media row (video shape:
    * 1 row → n rows, generator/UDTF-shaped). The Spark plumbing (flatMap
    * blowup, typed schema, partition locality) is exactly what a real
    * ffmpeg-backed extractor uses; the frame grab goes through the
    * [[MediaDecoder]] seam (default: the deterministic stub).
    */
  def sampleFrames(media: Dataset[MediaRow], n: Int,
                   decoder: MediaDecoder = StubDecoder): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val durationMs = decoder.decode(r.media).durationMs
      (0 until n).map { i =>
        val offset = if (n == 1) 0 else (durationMs.toLong * i / (n - 1)).toInt
        Frame(r.doc_id, i, offset, decoder.frameDigest(r.media, offset))
      }
    }
  }

  /** Resize stub: aspect-preserving target dimensions from the (stub-)decoded
    * size — the arithmetic a real resize kernel would receive.
    */
  def resizePlan(features: Dataset[MediaFeatures], targetWidth: Int): Dataset[(Long, Int, Int)] = {
    import features.sparkSession.implicits._
    features.map { f =>
      val w = math.max(1, f.width)
      val scale = targetWidth.toDouble / w
      (f.doc_id, targetWidth, math.max(1, math.round(f.height * scale).toInt))
    }
  }
}
