package graft

import graft.functions.TextKernels.{shingleHashes, tokenHashes, tokens}
import graft.operators.{Dedup, Par}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The catalog's shared algorithms against their plain spellings: the
  * two-pass global rank against one window's row_number, the shingle-set
  * build against the inline expression, and the CC label-sum decision. */
class SharedAlgorithmsSpec extends AnyFunSuite with SparkSessionTestWrapper {

  // 60 rows: 3 groups × 4 buckets, values with many ties, id breaks them
  private def frame = {
    import spark.implicits._
    (0L until 60L).map(id => (id, s"g${id % 3}", (id * 7) % 4, (id * 5) % 3))
      .toDF("id", "p", "b", "v")
  }

  private def ranks(df: org.apache.spark.sql.DataFrame, c: String): Map[Long, Long] =
    df.select(col("id"), col(c)).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("globalRank equals a single-window row_number, unpartitioned and partitioned") {
    val df = frame
    val within = Seq(col("v"), col("id"))
    val want = df.withColumn("want", row_number().over(
      Window.orderBy(col("b") +: within: _*)).cast("long"))
    val got = Par.globalRank(df, "b", within, "rk")
    assert(got.columns.toSeq.sorted == (df.columns :+ "rk").toSeq.sorted)
    assert(ranks(got, "rk") == ranks(want, "want"))

    val wantP = df.withColumn("want", row_number().over(
      Window.partitionBy(col("p")).orderBy(col("b").desc +: within: _*)).cast("long"))
    val gotP = Par.globalRank(df, "b", within, "rk", parts = Seq("p"), desc = true)
    assert(ranks(gotP, "rk") == ranks(wantP, "want"))
    assert(ranks(gotP, "rk").values.max == 20L)
  }

  test("shingleSets equals the inline token-hash / shingle / distinct spelling") {
    import spark.implicits._
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a a a a a a"),
      (3L, "two words"),
      (4L, "  padded   text with   runs of spaces  "),
      (5L, "the quick brown fox jumps over the lazy dog the quick brown fox"))
      .toDF("doc_id", "text")
    val rows = base.unionByName(base.select(
      (col("doc_id") + 1000000L).as("doc_id"), concat(col("text"), lit(" zzz")).as("text")))
    val inline = rows.select(col("doc_id"),
      array_distinct(shingleHashes(tokenHashes(tokens(col("text"))))).as("sh"))
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Seq[Long])].collect().toMap
    val got = sets(Dedup.shingleSets(rows, tokens(col("text"))))
    assert(got == sets(inline))
    assert(got(3L).isEmpty && got(2L).size == 1 && got(1000002L).size == 2)
  }

  test("CC label sum: a null sum over no rows is 0, over rows it throws") {
    val s = new java.math.BigDecimal(42)
    assert(Dedup.labelSum(s, 3L) == s)
    assert(Dedup.labelSum(null, 0L).signum == 0)
    val e = intercept[IllegalStateException](Dedup.labelSum(null, 3L))
    assert(e.getMessage.contains("connectedComponents"))
  }
}
