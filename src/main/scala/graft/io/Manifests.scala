package graft.io

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/**
 * Chunked, manifest-committed, exactly-resumable extraction runs
 * (SURVEY.md §4 item 2; north rule "resumable from checkpoint with
 * per-partition lineage + metrics").
 *
 * The input is split into `nChunks` deterministic chunks by conv_id hash
 * (a conversation never straddles chunks). Each chunk is one Spark job:
 * extract -> salted repartition -> write `out/chunk=<k>/`, then the driver
 * commits `manifest/chunk-<k>.json` (atomic tmp+rename) carrying lineage
 * (chunk predicate, input), row/byte counts and an order-independent
 * content checksum captured via `Observation` in the same pass — no second
 * scan. A re-run skips every committed chunk: exact resume.
 *
 * At 100 TB each chunk is an Iceberg-snapshot-sized commit unit; the
 * within-chunk salting keeps hot conversations off single tasks.
 */
object Manifests {

  final case class ChunkManifest(chunk: Int, rows: Long, bytes: Long, checksum: Long,
                                 input: String, predicate: String,
                                 files: Seq[(String, Long)] = Nil)

  def isCommitted(outDir: String, k: Int): Boolean =
    Files.exists(Paths.get(outDir, "manifest", f"chunk-$k%05d.json"))

  /** `s` as a quoted JSON string, backslash, quote and every control char
    * escaped: a Windows input path or a tab in an oracle's SQL must not
    * make the file unreadable to a JSON reader. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Atomic tmp+rename write of `json` as manifest/`name`. */
  private def writeAtomic(outDir: String, name: String, json: String): Unit = {
    val dir = Files.createDirectories(Paths.get(outDir, "manifest"))
    val tmp = dir.resolve(s".$name.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  private val mapper = new ObjectMapper()

  /** Every manifest/`prefix`-NNNNN.json, parsed, in file-name order. */
  private def readAll(outDir: String, prefix: String): Seq[JsonNode] = {
    val dir = Paths.get(outDir, "manifest")
    if (!Files.exists(dir)) return Nil
    scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.toSeq)
      .filter(_.getFileName.toString.matches(prefix + "-\\d+\\.json")).sortBy(_.toString)
      .map(f => mapper.readTree(Files.readString(f)))
  }

  private def commit(outDir: String, m: ChunkManifest): Unit = {
    val filesJson = m.files
      .map { case (name, sz) => s"""{"file":${jsonString(name)},"bytes":$sz}""" }
      .mkString("[", ",", "]")
    val json =
      s"""{"chunk":${m.chunk},"rows":${m.rows},"bytes":${m.bytes},"checksum":${m.checksum},""" +
      s""""input":${jsonString(m.input)},"predicate":${jsonString(m.predicate)},""" +
      s""""partition_files":$filesJson}"""
    writeAtomic(outDir, f"chunk-${m.chunk}%05d.json", json)
  }

  def readManifests(outDir: String): Seq[ChunkManifest] =
    readAll(outDir, "chunk").map(j => ChunkManifest(j.get("chunk").asInt, j.get("rows").asLong,
      j.get("bytes").asLong, j.get("checksum").asLong, j.get("input").asText,
      j.get("predicate").asText,
      j.get("partition_files").asScala.map(f => f.get("file").asText -> f.get("bytes").asLong).toSeq))

  /**
   * Consistent read of a [[resumableExtract]] output — the Iceberg reader
   * guarantee: ONLY chunks whose manifest committed are visible, so an
   * in-flight or crashed chunk write (data files present, no manifest)
   * never leaks into a read. With `verify = true` each chunk is audited
   * against its manifest's row count and order-independent content
   * checksum before being served (the "validate snapshot integrity" read
   * path); the audit is one aggregate per chunk over columns the scan
   * already reads.
   */
  def readCommitted(spark: SparkSession, outDir: String,
                    verify: Boolean = false): DataFrame = {
    val ms = readManifests(outDir)
    require(ms.nonEmpty, s"no committed chunks under $outDir")
    if (verify) ms.foreach(auditChunk(spark, outDir, _))
    ms.map(m => spark.read.parquet(s"$outDir/chunk=${m.chunk}"))
      .reduce(_ unionByName _)
  }

  private def auditChunk(spark: SparkSession, outDir: String, m: ChunkManifest): Unit = {
    val row = spark.read.parquet(s"$outDir/chunk=${m.chunk}")
      .agg(count(lit(1)).as("rows"),
        coalesce(bit_xor(xxhash64(col("conv_id"), col("turn_idx"), col("extracted_text"))), lit(0L))
          .as("checksum"))
      .head()
    require(row.getLong(0) == m.rows && row.getLong(1) == m.checksum,
      s"chunk ${m.chunk} fails manifest audit: rows ${row.getLong(0)}/${m.rows}, " +
        s"checksum ${row.getLong(1)}/${m.checksum}")
  }

  // ---- snapshots: Iceberg-style time travel over the committed set ------

  final case class Snapshot(version: Int, chunks: Seq[Int], rows: Long, bytes: Long)

  /**
   * Freeze the CURRENT committed chunk set as the next snapshot version
   * (atomic tmp+rename, like chunk commits). Chunks committed after this
   * call are invisible to [[readAsOf]] of this version — the Iceberg
   * snapshot-isolation contract: a reader pinned to a version sees a
   * stable table no matter how many epochs append afterwards. Call once
   * per completed epoch/run.
   */
  def snapshot(outDir: String): Snapshot = {
    val ms = readManifests(outDir)
    require(ms.nonEmpty, s"nothing committed under $outDir to snapshot")
    val v = snapshots(outDir).lastOption.map(_.version + 1).getOrElse(1)
    val s = Snapshot(v, ms.map(_.chunk), ms.map(_.rows).sum, ms.map(_.bytes).sum)
    writeAtomic(outDir, f"snapshot-$v%05d.json",
      s"""{"version":${s.version},"chunks":${s.chunks.mkString("[", ",", "]")},""" +
        s""""rows":${s.rows},"bytes":${s.bytes}}""")
    s
  }

  /** All snapshot versions, oldest first. */
  def snapshots(outDir: String): Seq[Snapshot] =
    readAll(outDir, "snapshot").map(j => Snapshot(j.get("version").asInt,
      j.get("chunks").asScala.map(_.asInt).toSeq, j.get("rows").asLong, j.get("bytes").asLong))

  /**
   * Time-travel read: exactly the chunk set frozen by snapshot `version`,
   * regardless of chunks committed since. Same committed-only + optional
   * per-chunk audit guarantees as [[readCommitted]].
   */
  def readAsOf(spark: SparkSession, outDir: String, version: Int,
               verify: Boolean = false): DataFrame = {
    val snap = snapshots(outDir).find(_.version == version)
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot version $version under $outDir"))
    val byChunk = readManifests(outDir).map(m => m.chunk -> m).toMap
    val ms = snap.chunks.map(k => byChunk.getOrElse(k,
      throw new IllegalStateException(s"snapshot $version references uncommitted chunk $k")))
    if (verify) ms.foreach(auditChunk(spark, outDir, _))
    ms.map(m => spark.read.parquet(s"$outDir/chunk=${m.chunk}"))
      .reduce(_ unionByName _)
  }

  /**
   * Run the extraction over `turns` resumably. Returns the number of chunks
   * actually executed (committed chunks are skipped).
   */
  def resumableExtract(spark: SparkSession, turns: DataFrame, outDir: String,
                       nChunks: Int, numPartitions: Int, salt: Int,
                       inputDesc: String = "transcripts"): Int = {
    var ran = 0
    (0 until nChunks).foreach { k =>
      if (!isCommitted(outDir, k)) {
        val predicate = s"pmod(xxhash64(conv_id), $nChunks) = $k"
        val chunk = turns.where(expr(predicate))
        val extracted = graft.Pipeline.extractTurns(chunk).toDF()
        val salted = graft.skew.Salt.saltedRepartition(extracted, numPartitions, salt)
        val obs = Observation(s"chunk-$k")
        val observed = salted.observe(obs,
          count(lit(1)).as("rows"),
          // octet_length of the UTF-8 encoding: actual bytes, not chars
          // (a mostly-Cyrillic corpus is ~2 bytes/char in UTF-8)
          coalesce(sum(octet_length(encode(col("extracted_text"), "UTF-8"))), lit(0L)).as("bytes"),
          // bit_xor: order-independent content hash, no ANSI overflow
          coalesce(bit_xor(xxhash64(col("conv_id"), col("turn_idx"), col("extracted_text"))), lit(0L))
            .as("checksum"))
        observed.write.mode("overwrite").parquet(s"$outDir/chunk=$k")
        val m = obs.get
        // per-partition lineage: one parquet part-file per salted partition,
        // recorded with its byte size (the task-level commit units)
        val partFiles: Seq[(String, Long)] = {
          val d = new java.io.File(s"$outDir/chunk=$k")
          Option(d.listFiles()).getOrElse(Array.empty)
            .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
            .map(f => f.getName -> f.length()).toSeq
        }
        commit(outDir, ChunkManifest(k,
          m("rows").asInstanceOf[Long], m("bytes").asInstanceOf[Long],
          m("checksum").asInstanceOf[Long], inputDesc, predicate, partFiles))
        ran += 1
      }
    }
    ran
  }
}
