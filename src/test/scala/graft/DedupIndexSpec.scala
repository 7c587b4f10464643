package graft

import org.apache.spark.sql.functions._

/** The persisted dedup index and its Bloom sketches: a sketch that misses
  * index rows, or one built smaller than asked for, must fail loudly
  * instead of admitting duplicates or raising the realized fpp.
  */
class DedupIndexSpec extends GraftSuite {
  import spark.implicits._
  import graft.lake.IcebergLite
  import graft.text.Dedup

  private def freshRoot(root: String): String = {
    scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
    root
  }

  test("stale Bloom sketches: appendIndex without bloomFpp refuses; ingest rejects a grown index") {
    val root = freshRoot("/tmp/dedup_index_stale_spec")
    val docs = spark.read.parquet(s"$sfSmall/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    Dedup.writeIndex(docs.where(pmod(col("doc_id"), lit(5L)) =!= 0),
      "doc_id", "text", col("lang"), 3, root, nBuckets = 4, bloomFpp = Some(0.03))
    val x = Seq((-1L, "a freshly crawled page that no corpus document shares a shingle with",
      "en")).toDF("doc_id", "text", "lang")
    val v = IcebergLite.currentVersion(root)
    intercept[IllegalStateException] {
      Dedup.appendIndex(x, "doc_id", "text", col("lang"), 3, root, nBuckets = 4)
    }
    assert(IcebergLite.currentVersion(root) === v, "a refused append must write nothing")
    // grow the index behind the sketches' back: they no longer cover X,
    // so an exact copy of X would pass both prefilters and be admitted
    IcebergLite.appendTable(Dedup.signatures(x, "doc_id", "text", col("lang"), 3),
      root, lit(0), 4, "out-of-band append")
    val e = intercept[IllegalStateException] {
      Dedup.withCache {
        Dedup.dedupIncrementalBloomIndexed(x.withColumn("doc_id", lit(-2L)), root,
          "doc_id", "text", col("lang"), 3, 0.7).collect()
      }
    }
    assert(e.getMessage.contains("stale"), e.getMessage)
  }

  test("a sketch past the session's bloom_filter_agg caps fails instead of clamping") {
    val items = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val docs = spark.read.parquet(s"$sfSmall/documents.parquet").limit(50)
    val e = withConf(items -> "10") {
      intercept[IllegalArgumentException] {
        Dedup.writeIndex(docs, "doc_id", "text", col("lang"), 3,
          freshRoot("/tmp/dedup_index_cap_spec"), nBuckets = 4, bloomFpp = Some(0.03))
      }
    }
    assert(e.getMessage.contains(items) &&
      e.getMessage.contains("spark.sql.optimizer.runtime.bloomFilter.maxNumBits"), e.getMessage)
  }
}
