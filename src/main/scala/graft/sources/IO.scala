package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Sources/sinks: the reference's `Call` directory binder
  * (featurebox/tools/imports.py:32-107) and `Store` sink
  * (featurebox/tools/exports.py:38-181) re-expressed for Spark.
  *
  * `Call` semantics preserved: point it at directories, every recognized
  * data file binds as a lazily-evaluated table (laziness is free —
  * DataFrames are plans). `Store` semantics preserved: auto-deduplicating
  * output names (`name`, `name(1)`, ...) so writes never clobber.
  */
final class Call(spark: SparkSession, paths: String*) {

  private val exts = Set("parquet", "csv", "json", "orc")

  /** name → path of every recognized file/dataset dir under the paths. */
  val bindings: Map[String, String] = paths.flatMap { p =>
    val root = new File(p)
    val files = Option(root.listFiles()).getOrElse(Array.empty)
    files.collect {
      case f if exts.exists(e => f.getName.endsWith("." + e)) =>
        f.getName.substring(0, f.getName.lastIndexOf('.')) -> f.getPath
      case d if d.isDirectory && Option(d.listFiles()).exists(
        _.exists(_.getName == "_SUCCESS")) =>
        d.getName -> d.getPath
    }
  }.toMap

  def apply(name: String): DataFrame = {
    val path = bindings.getOrElse(name,
      throw new IllegalArgumentException(
        s"no table '$name'; available: ${bindings.keys.toSeq.sorted.mkString(", ")}"))
    if (path.endsWith(".csv"))
      spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    else if (path.endsWith(".json")) spark.read.json(path)
    else if (path.endsWith(".orc")) spark.read.orc(path)
    else spark.read.parquet(path)
  }
}

final class Store(root: String) {
  new File(root).mkdirs()

  /** First free variant of `name`: `name`, `name(1)`, `name(2)`, ... */
  private def freeName(name: String): String = {
    def exists(n: String) = new File(root, n).exists()
    if (!exists(name)) name
    else LazyList.from(1).map(i => s"$name($i)").find(n => !exists(n)).get
  }

  def toParquet(df: DataFrame, name: String): String = {
    val p = new File(root, freeName(name)).getPath
    df.write.mode(SaveMode.ErrorIfExists).parquet(p)
    p
  }
}

/** Bucketed-layout sink/reader — the CO-LOCATED JOIN lever at 100 TB: two
  * tables bucketed the same way on the join key sort-merge-join with ZERO
  * exchanges (no shuffle of either side, ever), which is how a petabyte
  * fact table joins its history day after day without re-shuffling.
  * Bucketed layouts need the session catalog (bucket metadata lives in the
  * table descriptor, not the files), hence `saveAsTable` rather than a
  * path write. `PlanAuditSpec` proves the zero-exchange property.
  */
object Bucketed {
  def write(df: DataFrame, table: String, buckets: Int, keys: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)
}
