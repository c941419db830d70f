package graft

import graft.functions.TextKernels.{shingleHashes, tokenHashes, tokens}
import graft.functions.VectorKernels
import graft.operators.{Dedup, Par, Similarity}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The catalog's shared algorithms against their plain spellings: the
  * two-pass global rank against one window's row_number, the shingle-set
  * build against the inline expression, the CC label-sum decision, and
  * the vector-search helpers (top-K, recall@K, PQ ADC table). */
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

  test("topk: an exact cosine tie at the k boundary goes to the smaller id") {
    import spark.implicits._
    // 20 and 21 hold 2·u and u: doubling is exact in IEEE, so their
    // cosines to the query are bit-equal; 20 must take the last slot
    val u = Seq(0.3, -0.2, 0.7, 0.1)
    val e = Seq(
        (1L, Seq(1.0, 0.5, 0.25, -0.5)),
        (10L, Seq(1.0, 0.5, 0.25, -0.4)),
        (21L, u), (20L, u.map(_ * 2)), (30L, Seq(-1.0, 0.0, 0.0, 0.0)))
      .toDF("vec_id", "v").withColumn("nrm", VectorKernels.norm(col("v")))
    val q = e.filter(col("vec_id") === 1L)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val pairs = e.join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), Similarity.qcos.as("cos"))
    val cos = pairs.as[(Long, Long, Double)].collect().map(r => r._2 -> r._3).toMap
    assert(cos(20L) == cos(21L) && cos(10L) > cos(20L) && cos(30L) < cos(21L))
    val got = Similarity.topk(pairs, 2).orderBy("rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.map(r => (r._2, r._3)) == Seq(10L -> 1L, 20L -> 2L))
  }

  test("topk: ranks on the unrounded cosine, exactly k rows ranked 1..k per query") {
    import spark.implicits._
    // query 1: 0.70004 and 0.70001 both round to 0.7; the larger id must
    // still rank first because it has the larger unrounded cosine
    val pairs = (Seq((1L, 5L, 0.70001), (1L, 6L, 0.70004), (1L, 7L, 0.1)) ++
      (1L to 9L).map(n => (2L, n, n / 10.0)))
      .toDF("query_id", "neighbor_id", "cos")
    val got = Similarity.topk(pairs, 3).as[(Long, Long, Long, Double)].collect()
    assert(got.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toSeq).toMap ==
      Map(1L -> Seq(1L, 2L, 3L), 2L -> Seq(1L, 2L, 3L)))
    assert(got.filter(_._1 == 1L).sortBy(_._3).map(r => (r._2, r._4)).toSeq ==
      Seq(6L -> 0.7, 5L -> 0.7, 7L -> 0.1))
    assert(got.filter(_._1 == 2L).sortBy(_._3).map(_._2).toSeq == Seq(9L, 8L, 7L))
  }

  test("recallAtK: a query with no overlap reads 0, partial overlap reads hits / K") {
    import spark.implicits._
    // K = 5 neighbors per query; the approximate list of query 1 shares
    // two, query 2's shares none, query 3 is absent from it
    def lists(q: Long, ns: Seq[Long]) = ns.map(n => (q, n))
    val exact = (lists(1L, 10L to 14L) ++ lists(2L, 20L to 24L) ++ lists(3L, 30L to 34L))
      .toDF("query_id", "neighbor_id")
    val approx = (lists(1L, Seq(10L, 13L, 15L, 16L, 17L)) ++ lists(2L, 25L to 29L))
      .toDF("query_id", "neighbor_id")
    val got = Similarity.recallAtK(exact, approx).as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == Map(1L -> (2L, 0.4), 2L -> (0L, 0.0), 3L -> (0L, 0.0)))
  }

  test("adcTable equals a plain-Scala squared distance per code") {
    import spark.implicits._
    val book = IndexedSeq(IndexedSeq(0L, 0L, 0L), IndexedSeq(3L, -4L, 1L),
      IndexedSeq(-16000L, 16000L, 7L))
    val qs = Seq((7L, Seq(1L, 2L, 3L)), (8L, Seq(-5L, 0L, 16000L))).toDF("query_id", "qlo")
    val got = Similarity.adcTable(qs, "qlo", book, "code_lo", "pd_lo")
      .as[(Long, Long, Long)].collect().toSet
    val want = for ((id, q) <- Set(7L -> Seq(1L, 2L, 3L), 8L -> Seq(-5L, 0L, 16000L));
        c <- book.indices)
      yield (id, c.toLong, q.zip(book(c)).map { case (x, y) => (x - y) * (x - y) }.sum)
    assert(got == want)
  }
}
