package graft.perfbench

import graft.Document
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** The output checks must see a planted bad output: a clean iteration
  * reports no failure, and one corrupted output drives failed_share above 0. */
class PlantedBadOutputSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private lazy val tmp = {
    Files.createDirectories(Paths.get("target"))
    Files.createTempDirectory(Paths.get("target"), "planted").toString
  }

  override def afterAll(): Unit = {
    spark.stop()
    ExtractWorkload.deleteRecursively(Paths.get(tmp))
  }

  /** Replaces the first span's text of one committed document. */
  private def corruptOneDoc(out: String): Unit = {
    import spark.implicits._
    val bucket = new java.io.File(s"$out/data").listFiles()
      .filter(_.getName.startsWith("bucket=")).minBy(_.getName)
    val rows   = spark.read.parquet(bucket.getPath).as[Document].collect()
    val victim = rows.find(_.spans.nonEmpty).get
    val bad = rows.map { d =>
      if (d.doc_id != victim.doc_id) d
      else d.copy(spans = d.spans.head.copy(text = d.spans.head.text + " corrupted") +: d.spans.tail)
    }
    val tmpDir = s"$out/_corrupt"
    spark.createDataset(bad.toSeq).coalesce(1).write.mode("overwrite").parquet(tmpDir)
    ExtractWorkload.deleteRecursively(bucket.toPath)
    Files.move(Paths.get(tmpDir), bucket.toPath)
  }

  test("extract: one corrupted committed doc drives failed_share above 0") {
    val wl = new ExtractWorkload(seed = 7L, cores = 2)
    wl.materialize(spark, s"$tmp/extract-in")
    val clean = wl.iterate(spark, s"$tmp/extract-out", None)
    assert(clean.attempted == ExtractWorkload.Docs)
    assert(clean.failed == 0)

    corruptOneDoc(s"$tmp/extract-out")
    val (total, matching) = wl.verify(spark, s"$tmp/extract-out")
    val failed = ExtractWorkload.failedDocs(total, matching, errors = 0)
    assert(failed == 1)
    assert(failed.toDouble / total > 0)
  }

  test("curate: a shard row written twice drives failed_share above 0") {
    val wl = new CurateWorkload(seed = 7L)
    wl.materialize(spark, s"$tmp/curate-in")
    val out   = s"$tmp/curate-out"
    val clean = wl.iterate(spark, out, None)
    assert(clean.attempted > 0)
    assert(clean.failed == 0)

    val packed = spark.read.parquet(s"$out/packed")
    val row    = packed.orderBy(col("doc_id")).limit(1).localCheckpoint()
    row.write.mode("append").partitionBy("split").parquet(s"$out/packed")
    val (attempted, failed) = wl.check(spark, out)
    assert(failed >= 1)
    assert(failed.toDouble / attempted > 0)
  }
}
