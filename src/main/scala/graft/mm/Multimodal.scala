package graft.mm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multimodal-column plumbing: image/audio/video payloads as opaque `binary`
 * columns with typed metadata, processed batch-wise in mapPartitions.
 *
 * The actual codecs are NOT available in this environment, so the decode
 * step is a clearly-marked DETERMINISTIC STUB (`FakeDecoder`) — the
 * Spark-side contract (schema, batching, partitioning, null-safety) is
 * real and tested; swap `FakeDecoder.decode` for a real codec binding to
 * productionize.
 */
object Multimodal {

  final case class MediaMeta(media_id: Long, kind: String, n_bytes: Long,
                             width: Int, height: Int, n_frames: Int, checksum: String)

  /** ====== STUB ====== deterministic fake decoder: derives "dimensions"
    * from the md5 digest of the payload bytes (portable — the DuckDB
    * oracle replicates the derivation, so even the stub path is
    * driver-verified). Replace with a real image/audio decode. */
  object FakeDecoder {
    private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
      () => java.security.MessageDigest.getInstance("MD5"))

    private def uint32(d: Array[Byte], off: Int): Long =
      ((d(off) & 0xffL) << 24) | ((d(off + 1) & 0xffL) << 16) |
        ((d(off + 2) & 0xffL) << 8) | (d(off + 3) & 0xffL)

    /** (width, height, n_frames, checksum-hex). */
    def decode(kind: String, bytes: Array[Byte]): (Int, Int, Int, String) = {
      val dig = md5.get()
      dig.reset()
      val d = dig.digest(bytes)
      val w = 64 + (uint32(d, 0) % 1024L).toInt
      val h = 64 + (uint32(d, 4) % 1024L).toInt
      val frames = if (kind == "video") 1 + (uint32(d, 8) % 240L).toInt else 1
      val hex = d.map(b => f"${b & 0xff}%02x").mkString
      (w, h, frames, hex)
    }
  }

  /** Synthesize a deterministic media table from any text column (test
    * stand-in for a real binary payload source). */
  def synthesizeMedia(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col(idCol).cast("long"), lit(3)) + 1).cast("int")).as("kind"),
      encode(col(textCol), "UTF-8").as("payload"))

  /** Batched metadata extraction over the binary column (mapPartitions —
    * one decoder instance per partition, the real-codec shape). */
  def extractMeta(media: DataFrame): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        // per-partition decoder init would happen here (real codecs are heavy)
        it.map { case (id, kind, bytes) =>
          val safe = if (bytes == null) Array.emptyByteArray else bytes
          val (w, h, f, sum) = FakeDecoder.decode(kind, safe)
          MediaMeta(id, kind, safe.length.toLong, w, h, f, sum)
        }
      }
  }
}
