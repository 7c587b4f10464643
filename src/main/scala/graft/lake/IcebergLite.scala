package graft.lake

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-style table layout without the Iceberg runtime (no jar in this
  * environment — SURVEY §7.0): hash-bucketed partitioned parquet plus JSON
  * snapshot/manifest metadata giving the semantics the north rule needs —
  * partition-level atomic commit, snapshot versioning, per-partition
  * lineage/row-count/throughput metrics, and exact resume.
  *
  * Layout:
  * {{{
  *   <root>/data/bucket=NNN/part-....parquet   partition data
  *   <root>/meta/manifest-v<K>.json        immutable snapshot manifests
  *   <root>/meta/VERSION                   atomic pointer to current K
  *   <root>/meta/metrics.jsonl             append-only run metrics
  * }}}
  *
  * Commit protocol (crash-safe): partition data is written first; the
  * manifest recording it is written to a temp file and atomically renamed;
  * VERSION is updated last (also via temp+rename). A killed job leaves at
  * worst an uncommitted data directory that the next run overwrites.
  */
object IcebergLite {

  final case class PartitionMeta(
      bucket: Int, rows: Long, durationMs: Long, committedAtMs: Long)

  final case class Snapshot(
      version: Int, partitions: Map[Int, PartitionMeta], lineage: Seq[String])

  private def metaDir(root: String): Path = Paths.get(root, "meta")
  private def dataDir(root: String): String = s"$root/data"

  private def atomicWrite(target: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  // -- hand-rolled JSON (no extra deps; schema is flat and known) ----------

  private def partJson(p: PartitionMeta): String =
    s"""{"bucket":${p.bucket},"rows":${p.rows},"durationMs":${p.durationMs},"committedAtMs":${p.committedAtMs}}"""

  private def snapshotJson(s: Snapshot): String = {
    val parts = s.partitions.values.toSeq.sortBy(_.bucket)
      .map(partJson).mkString("[", ",", "]")
    val lin = s.lineage.map(x => "\"" + x.replace("\"", "'") + "\"")
      .mkString("[", ",", "]")
    s"""{"version":${s.version},"partitions":$parts,"lineage":$lin}"""
  }

  private val bucketRe = """"bucket":(\d+),"rows":(\d+),"durationMs":(\d+),"committedAtMs":(\d+)""".r
  private val versionRe = """"version":(\d+)""".r
  private val lineageRe = """"lineage":\[([^\]]*)\]""".r

  def currentVersion(root: String): Int = {
    val v = metaDir(root).resolve("VERSION")
    if (Files.exists(v)) new String(Files.readAllBytes(v)).trim.toInt else 0
  }

  def readSnapshot(root: String): Option[Snapshot] = {
    val ver = currentVersion(root)
    if (ver == 0) None
    else {
      val f = metaDir(root).resolve(s"manifest-v$ver.json")
      if (!Files.exists(f)) None
      else {
        val txt = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
        val parts = bucketRe.findAllMatchIn(txt).map { m =>
          val p = PartitionMeta(m.group(1).toInt, m.group(2).toLong,
            m.group(3).toLong, m.group(4).toLong)
          p.bucket -> p
        }.toMap
        val lineage = lineageRe.findFirstMatchIn(txt)
          .map(_.group(1).split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
            .filter(_.nonEmpty))
          .getOrElse(Nil)
        Some(Snapshot(versionRe.findFirstMatchIn(txt).get.group(1).toInt,
          parts, lineage))
      }
    }
  }

  /** Commit a new snapshot = previous partitions merged with `newParts`. */
  def commit(root: String, newParts: Seq[PartitionMeta], lineage: Seq[String]): Snapshot = {
    val prev = readSnapshot(root)
    val merged = prev.map(_.partitions).getOrElse(Map.empty) ++
      newParts.map(p => p.bucket -> p)
    val version = currentVersion(root) + 1
    val snap = Snapshot(version,
      merged, prev.map(_.lineage).getOrElse(Nil) ++ lineage)
    atomicWrite(metaDir(root).resolve(s"manifest-v$version.json"),
      snapshotJson(snap).getBytes(StandardCharsets.UTF_8))
    atomicWrite(metaDir(root).resolve("VERSION"),
      version.toString.getBytes(StandardCharsets.UTF_8))
    snap
  }

  /** Binary snapshot property (Iceberg "table property" analog for
    * artifacts that travel WITH the table — dedup Bloom sketches, stats
    * blobs). Written atomically next to the manifests; a property persists
    * until overwritten, so consumers built for daily ingest read it in one
    * driver-side file read instead of re-scanning the table.
    */
  def putBlob(root: String, key: String, bytes: Array[Byte]): Unit =
    atomicWrite(metaDir(root).resolve(s"blob-$key.bin"), bytes)

  def getBlob(root: String, key: String): Option[Array[Byte]] = {
    val f = metaDir(root).resolve(s"blob-$key.bin")
    if (Files.exists(f)) Some(Files.readAllBytes(f)) else None
  }

  def appendMetrics(root: String, json: String): Unit = {
    Files.createDirectories(metaDir(root))
    Files.write(metaDir(root).resolve("metrics.jsonl"),
      (json + "\n").getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }

  /** Write a DataFrame as a bucketed Iceberg-lite table in one job and
    * commit all partitions. `bucketExpr` must be deterministic in row
    * content (hash of the partition key) so re-runs land rows identically.
    */
  def writeTable(
      df: DataFrame,
      root: String,
      bucketExpr: org.apache.spark.sql.Column,
      nBuckets: Int,
      lineage: String
  ): Snapshot = writeBucketed(df, root, bucketExpr, nBuckets, lineage, "overwrite")

  /** APPEND rows to an existing bucketed table and commit the grown
    * partition totals — the daily-ingest write path: day N's admitted
    * signature rows land next to the existing files of their bucket
    * (same deterministic bucket expression), so day N+1 reads one grown
    * table. Footer counts re-derive per-bucket totals metadata-only.
    */
  def appendTable(
      df: DataFrame,
      root: String,
      bucketExpr: org.apache.spark.sql.Column,
      nBuckets: Int,
      lineage: String
  ): Snapshot = writeBucketed(df, root, bucketExpr, nBuckets, lineage, "append")

  /** The one table-write body of [[writeTable]] and [[appendTable]]. */
  private def writeBucketed(
      df: DataFrame,
      root: String,
      bucketExpr: org.apache.spark.sql.Column,
      nBuckets: Int,
      lineage: String,
      mode: String
  ): Snapshot = {
    val t0 = System.currentTimeMillis()
    val withBucket = df.withColumn("bucket", pmod(bucketExpr, lit(nBuckets)))
    withBucket.write.mode(mode).partitionBy("bucket")
      .parquet(dataDir(root))
    // per-partition row counts from parquet footers — metadata-only, no
    // second Spark job over the data
    val counts = footerCounts(dataDir(root))
    val dur = System.currentTimeMillis() - t0
    val parts = (0 until nBuckets).map(b =>
      PartitionMeta(b, counts.getOrElse(b, 0L), dur / math.max(nBuckets, 1),
        System.currentTimeMillis()))
    commit(root, parts, Seq(lineage))
  }

  def readTable(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(dataDir(root))

  /** bucket → row count summed from parquet footers (driver-side metadata
    * read; tens of files, no executor work).
    */
  def footerCounts(dataPath: String): Map[Int, Long] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val dir = new java.io.File(dataPath)
    val bucketDirs = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
    bucketDirs.map { bd =>
      val bucket = bd.getName.stripPrefix("bucket=").toInt
      val rows = Option(bd.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getPath), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }.sum
      bucket -> rows
    }.toMap
  }
}

/** Checkpointed per-partition job runner: the exact-resume machinery the
  * north rule requires. Each bucket is processed and committed
  * independently; a killed job resumes precisely at the first uncommitted
  * bucket and re-processes nothing.
  */
final class CheckpointedJob(root: String, jobName: String) {

  /** Buckets already committed in the current snapshot. */
  def doneBuckets: Set[Int] =
    IcebergLite.readSnapshot(root).map(_.partitions.keySet).getOrElse(Set.empty)

  /** Process one bucket if not already committed. `body` must write the
    * bucket's output and return its row count; commit happens only after it
    * succeeds. Returns true if work was done, false if skipped.
    */
  def runBucket(bucket: Int)(body: => Long): Boolean = {
    if (doneBuckets.contains(bucket)) false
    else {
      val t0 = System.currentTimeMillis()
      val rows = body
      val dur = System.currentTimeMillis() - t0
      IcebergLite.commit(root,
        Seq(IcebergLite.PartitionMeta(bucket, rows, dur, System.currentTimeMillis())),
        Seq(s"$jobName bucket=$bucket"))
      IcebergLite.appendMetrics(root,
        s"""{"job":"$jobName","bucket":$bucket,"rows":$rows,"durationMs":$dur,""" +
          s""""rowsPerSec":${if (dur > 0) rows * 1000 / dur else rows}}""")
      true
    }
  }
}
