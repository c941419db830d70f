package graft

import graft.plans.{ExtractJob, ManifestIO}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Iceberg-semantics emulation tests (SURVEY.md §7.6): idempotent rerun,
  * resume-from-partial-failure. Reference analog: skip-and-continue eval
  * loop (/root/reference/eval_script_field_level.py:461-463). */
class ManifestSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private def tmpDir(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p.toString
  }

  private def listParquet(dir: String): Seq[Path] =
    Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq

  test("clean run commits all buckets; rerun is a no-op (idempotency)") {
    val out  = tmpDir("graft-manifest")
    val docs = ExtractJob.generateGoldens(spark, 100, seed = 1, parts = 4)

    val first = ManifestIO.write(docs, out, nBuckets = 8, runId = "r1")
    assert(first.map(_.bucket).toSet.size == first.size)
    assert(first.map(_.docCount).sum == 100L)

    val filesAfterFirst = listParquet(s"$out/data").toSet
    val second          = ManifestIO.write(docs, out, nBuckets = 8, runId = "r2")
    assert(second.isEmpty, "rerun with all buckets committed must write nothing")
    assert(listParquet(s"$out/data").toSet == filesAfterFirst)

    assert(ManifestIO.read(spark, out).count() == 100L)
  }

  test("resume completes only missing buckets; result equals a clean run") {
    val out  = tmpDir("graft-resume")
    val docs = ExtractJob.generateGoldens(spark, 100, seed = 1, parts = 4)

    // simulate a partial run: only buckets {0,1,2} of 8 got committed
    import org.apache.spark.sql.functions._
    val partial = docs.toDF()
      .withColumn("b", ManifestIO.bucketExpr(8))
      .filter(col("b") < 3).drop("b")
    import spark.implicits._
    ManifestIO.write(partial.as[Document], out, nBuckets = 8, runId = "partial")
    val committed1 = ManifestIO.committedBuckets(spark, out)
    assert(committed1 == Set(0, 1, 2))

    // resume with the FULL input: must fill exactly buckets 3..7
    val resumed = ManifestIO.write(docs, out, nBuckets = 8, runId = "resume")
    assert(resumed.map(_.bucket).toSet == Set(3, 4, 5, 6, 7))
    assert(ManifestIO.committedBuckets(spark, out) == (0 to 7).toSet)

    // crash-window probe: data published but manifest lost (crash between
    // rename and manifest append) -> next run must ADOPT, not reprocess
    val mdir = java.nio.file.Paths.get(s"$out/_manifest")
    Files.list(mdir).iterator().asScala.toSeq.foreach(Files.delete)
    assert(ManifestIO.committedBuckets(spark, out).isEmpty)
    val adopted = ManifestIO.write(docs, out, nBuckets = 8, runId = "adopt")
    assert(adopted.map(_.bucket).toSet == (0 to 7).toSet, "orphans adopted")
    assert(ManifestIO.read(spark, out).count() == 100L, "no duplicate rows after adoption")

    // content identical to a clean single run
    val clean = tmpDir("graft-clean")
    ManifestIO.write(docs, clean, nBuckets = 8, runId = "c")
    val a = ManifestIO.read(spark, out)
    val b = ManifestIO.read(spark, clean)
    assert(graft.plans.GoldenDiff.mismatchedDocs(a, b).isEmpty)
    // and the per-bucket content hashes agree between the two histories
    val hashesA = ManifestIO.readManifests(spark, out).map(m => m.bucket -> m.contentHash).toMap
    val hashesB = ManifestIO.readManifests(spark, clean).map(m => m.bucket -> m.contentHash).toMap
    assert(hashesA == hashesB)
  }

  test("resume with different bucketing parameters fails loudly, never mixes") {
    val out  = tmpDir("graft-bucketing")
    val docs = ExtractJob.generateGoldens(spark, 50, seed = 2, parts = 4)
    ManifestIO.write(docs, out, nBuckets = 8, runId = "r1")

    // manifest bucket ids were computed under nBuckets=8; a resume under
    // 16 (e.g. a different SPARK_GRAFT_CPUS) would silently prune docs
    // whose new bucket id collides with an old committed id — both the
    // prune and the write must refuse instead
    val e1 = intercept[IllegalStateException] {
      ManifestIO.write(docs, out, nBuckets = 16, runId = "r2")
    }
    assert(e1.getMessage.contains("nBuckets=8"))
    val e2 = intercept[IllegalStateException] {
      ManifestIO.pruneCommitted(docs, out, nBuckets = 8, salt = 1).count()
    }
    assert(e2.getMessage.contains("salt=0"))

    // matching parameters still resume fine (idempotent no-op here)
    assert(ManifestIO.write(docs, out, nBuckets = 8, runId = "r3").isEmpty)
    assert(ManifestIO.pruneCommitted(docs, out, nBuckets = 8).count() == 0)

    // a manifested pre-marker table (unknown bucketing) is rejected too
    Files.delete(java.nio.file.Paths.get(s"$out/_manifest/BUCKETING.json"))
    val e3 = intercept[IllegalStateException] {
      ManifestIO.write(docs, out, nBuckets = 8, runId = "r4")
    }
    assert(e3.getMessage.contains("no BUCKETING.json"))
  }
}
