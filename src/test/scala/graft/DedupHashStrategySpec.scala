package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Exact dedup groups on a content hash, so any collision-free hash
  * yields the same keepers: the md5 the catalog uses and xxhash64 agree
  * on the sf0.001 corpus. */
class DedupHashStrategySpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val dir = "/root/testdata/sf0.001"

  test("exact dedup keepers are hash-agnostic") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    def keepers(h: org.apache.spark.sql.Column) = docs
      .groupBy(h.as("k")).agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keep_id"))
      .select("keep_id", "cnt")
    val viaMd5 = keepers(md5(col("text"))).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val viaXx  = keepers(xxhash64(col("text"))).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(viaMd5.sameElements(viaXx))
  }
}
