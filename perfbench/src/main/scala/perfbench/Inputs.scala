package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Transcripts.{h, hmod}

/** Seeded inputs the benchmark hands to the engine. Every column is a pure
  * function of (row index, seed), so one seed gives the same rows at any
  * parallelism.
  */
object Inputs {

  private val words = Seq(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "vector", "join", "customer", "the", "a", "index", "plan",
    "shard", "token", "merge", "cache", "lake", "commit", "frame", "node")
  private val langs = Seq("en", "en", "en", "zh", "es", "fr", "de")

  /** A document corpus with planted duplicates. One document in 12 repeats
    * an earlier document's text exactly, and one in 6 repeats it with one
    * word changed, so incremental dedup has real hits across days.
    *
    * Columns: doc_id (long), text, lang, day (0 = standing corpus, 1..days
    * = daily batches; equal parts of the documents in the order of a seeded
    * hash of doc_id, so every seed gives days of the same size).
    */
  def documents(spark: SparkSession, n: Long, seed: Long, days: Int): DataFrame = {
    val id = col("doc_id")
    val kind = hmod(12, id, lit(seed), lit(1))
    val src = when(kind <= 2 && id > 0, hmod(Int.MaxValue, id, lit(seed), lit(2)) % id)
      .otherwise(id)
    val len = (hmod(80, col("src"), lit(seed), lit(3)) + 8).cast("int")
    val wordsArr = array(words.map(lit): _*)
    val edit = hmod(1 << 30, id, lit(seed), lit(4)) % col("len")
    def word(k: Column, salt: Int, key: Column): Column =
      element_at(wordsArr, (hmod(words.size, key, k, lit(seed), lit(salt)) + 1).cast("int"))
    val text = concat_ws(" ", transform(sequence(lit(0), col("len") - 1), k =>
      when(col("kind").between(1, 2) && k === col("edit"), word(k, 6, id))
        .otherwise(word(k, 5, col("src")))))
    spark.range(n).toDF("doc_id")
      .withColumn("kind", kind)
      .withColumn("src", src)
      .withColumn("len", len)
      .withColumn("edit", edit)
      .select(
        id,
        text.as("text"),
        element_at(array(langs.map(lit): _*),
          (hmod(langs.size, col("src"), lit(seed), lit(7)) + 1).cast("int")).as("lang"),
        ((row_number().over(Window.orderBy(h(id, lit(seed), lit(8)), id)) - 1) * (days + 1) / n)
          .cast("int").as("day"))
  }

  /** Attribute lookup for the composition featurizer: one row per role or
    * tool, two positive attributes drawn from the seed.
    */
  def lookup(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (graft.core.Transcripts.roles ++ graft.core.Transcripts.tools)
      .map(p => (p, 0.5 + rnd.nextDouble() * 4, 1.0 + rnd.nextDouble() * 9))
      .toDF("part", "a1", "a2")
  }
}

/** Order-independent content digest of a frame: row count plus the sums of
  * the two 32-bit halves of a per-row hash over every column (by name).
  */
final case class Digest(rows: Long, lo: Long, hi: Long)

object Digest {
  def of(df: DataFrame): Digest = {
    val hash = xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*)
    val r = df.select(hash.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

/** Files under a directory tree. */
object Files {
  def under(dir: File): Seq[File] =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap(f =>
      if (f.isDirectory) under(f) else Seq(f))

  def dataFiles(dir: File): Seq[File] = under(dir).filter(_.getName.endsWith(".parquet"))

  def bytes(fs: Seq[File]): Long = fs.map(_.length).sum

  def delete(f: File): Unit = scala.reflect.io.Directory(f).deleteRecursively()
}
