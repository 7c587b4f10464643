package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.Dedup

/** The blocked pair builders of [[graft.text.Dedup]]: the block cap
  * boundary, shared by every capped builder.
  */
class DedupPairsSpec extends GraftSuite {

  private def docs(n: Int): DataFrame = spark.range(n).select(col("id").as("doc_id"),
    lit("every document in this block carries the very same text").as("text"))

  private def vecs(n: Int): DataFrame = spark.range(n).select(col("id").as("vec_id"),
    array(lit(0.5), lit(-1.0), lit(2.0), lit(0.25)).as("emb"))

  test("blockCap: a block of exactly cap rows pairs fully; cap + 1 rows form no pair") {
    for (cap <- Seq(2, 5); n <- Seq(cap, cap + 1)) {
      val want = if (n == cap) cap * (cap - 1) / 2 else 0
      Dedup.withCache {
        for ((name, out) <- Seq(
            "minhashPairs" -> Dedup.minhashPairs(docs(n), "doc_id", "text", blockCap = cap),
            "simhashPairs" -> Dedup.simhashPairs(docs(n), "doc_id", "text", blockCap = cap),
            "embeddingPairs" -> Dedup.embeddingPairs(vecs(n), "vec_id", "emb",
              blockCap = cap)))
          assert(out.count() == want, s"$name: $n identical rows at blockCap=$cap")
      }
    }
  }
}
