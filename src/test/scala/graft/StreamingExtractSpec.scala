package graft

import graft.plans.{ExtractJob, GoldenDiff}
import graft.streaming.StreamingExtract
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Streaming front-end: micro-batched extraction must produce exactly the
  * batch pipeline's output (same kernel, same commit), and a restarted
  * stream over the same checkpoint must be a no-op (exactly-once across
  * restarts). */
class StreamingExtractSpec extends AnyFunSuite with SparkSessionTestWrapper {

  test("file-stream extraction matches goldens and restart is a no-op") {
    import spark.implicits._
    val base  = Files.createTempDirectory("graft-stream").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val n = 200L

    // two input chunks appended as separate files (file source lists flat)
    val flat1 = spark.range(0, n / 2, 1, 2).map(i => graft.corpus.Corpus.input(i, 5L))
    val flat2 = spark.range(n / 2, n, 1, 2).map(i => graft.corpus.Corpus.input(i, 5L))
    flat1.write.mode("append").parquet(inDir)
    flat2.write.mode("append").parquet(inDir)

    val q = StreamingExtract.start(spark, inDir, outDir, ckpt, nBuckets = 4)
    q.awaitTermination()

    val extracted = StreamingExtract.readAll(spark, outDir)
    val goldens   = spark.range(0, n, 1, 4).map(i => graft.corpus.Corpus.golden(i, 5L))
    assert(extracted.count() == n)
    assert(GoldenDiff.mismatchedDocs(extracted, goldens).isEmpty)

    // restart over the same checkpoint: nothing new to process
    val q2 = StreamingExtract.start(spark, inDir, outDir, ckpt, nBuckets = 4)
    q2.awaitTermination()
    assert(StreamingExtract.readAll(spark, outDir).count() == n)
    assert(GoldenDiff.mismatchedDocs(StreamingExtract.readAll(spark, outDir), goldens).isEmpty)
  }
}
