package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** `CurateMain.run`'s lineage JSON against one count action per figure
  * over the tables the run committed. */
class CurateLineageSpec extends AnyFunSuite with SparkSessionTestWrapper {

  test("lineage counts equal a separate count of each stage and packed-table figure") {
    val out  = Files.createTempDirectory("curate-lineage").toString
    val json = CurateMain.run(spark, "/root/testdata/sf0.001/documents.parquet", out)
    def field(k: String): Long =
      s""""$k":(\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
        .getOrElse(fail(s"no $k in $json"))
    val packed = spark.read.parquet(s"$out/packed")
    val nKept  = packed.count()
    val nTrain = packed.filter(col("split") === "train").count()
    assert(nKept > 0 && nTrain > 0 && nTrain < nKept)
    assert(field("afterQualityAndExact") == spark.read.parquet(s"$out/stages/deduped").count())
    assert(field("nearDupClusters") ==
      spark.read.parquet(s"$out/stages/clusters").select(col("cluster_id")).distinct().count())
    assert(field("keepers") == nKept)
    assert(field("train") == nTrain)
    assert(field("val") == nKept - nTrain)
    assert(field("shards") ==
      packed.select(col("split"), col("bucket"), col("shard")).distinct().count())
  }
}
