package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** CurateMain's resume semantics: stage-boundary materialization means a
  * killed-and-rerun curation re-pays nothing upstream of the last
  * committed stage. The hard proof: rerun with the INPUT DELETED — the
  * run can only succeed from the durable stage tables (the signature
  * pass physically cannot be re-paid), and the packed output must be
  * identical to the uninterrupted run's (every stage is deterministic). */
class CurateResumeSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private def deleteRec(p: java.nio.file.Path): Unit = {
    if (!Files.exists(p)) return
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  test("kill-and-rerun without the input reproduces identical shards from stage tables") {
    val tmp    = Files.createTempDirectory("curate-resume").toString
    val input  = s"$tmp/input"
    val outA   = s"$tmp/outA"
    val outB   = s"$tmp/outB"
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .write.parquet(input)

    // uninterrupted reference run
    CurateMain.run(spark, input, outA)
    val refRows = spark.read.parquet(s"$outA/packed").cache()
    assert(refRows.count() > 0)

    // run B completes its stages, then "crashes" before/while packing:
    // simulate by deleting the packed output (stage tables survive)
    CurateMain.run(spark, input, outB)
    deleteRec(Paths.get(s"$outB/packed"))
    // the input disappears too — a resume that re-reads it would die
    deleteRec(Paths.get(input))
    val json = CurateMain.run(spark, input, outB)
    assert(json.contains("\"docsIn\""), json)

    // collect eagerly: the next rerun overwrites these files, and a lazy
    // frame would re-list deleted parts
    def multiset(rows: Seq[org.apache.spark.sql.Row]) =
      rows.map(_.toString).groupBy(identity).view.mapValues(_.size).toMap
    val refSet     = multiset(refRows.collect().toSeq)
    val resumedSet = multiset(spark.read.parquet(s"$outB/packed").collect().toSeq)
    assert(resumedSet == refSet, "resumed shards differ from the uninterrupted run")
    refRows.unpersist()

    // and a half-written stage is NOT reused: no _SUCCESS ⇒ recompute.
    // (drop clusters' marker; the rerun must rebuild it from deduped+banded
    // — still no input needed)
    Files.deleteIfExists(Paths.get(s"$outB/stages/clusters/_SUCCESS"))
    deleteRec(Paths.get(s"$outB/packed"))
    CurateMain.run(spark, input, outB)
    val resumed2Set = multiset(spark.read.parquet(s"$outB/packed").collect().toSeq)
    assert(resumed2Set == resumedSet)
  }

  test("stage dirs from the removed xxhash64 mode are rejected by resume and ingest") {
    val out = Files.createTempDirectory("curate-fasthash")
    Files.writeString(out.resolve("STAGES.json"),
      """{"nRaw":10,"nBuckets":2,"fastHash":1,"sigRule":2}""")
    val resume = intercept[IllegalArgumentException] {
      CurateMain.run(spark, s"$out/no-input", out.toString)
    }
    assert(resume.getMessage.contains("removed xxhash64"), resume.getMessage)
    val ingest = intercept[IllegalArgumentException] {
      CurateMain.ingest(spark, out.toString, s"$out/no-batch", "r1")
    }
    assert(ingest.getMessage.contains("removed xxhash64"), ingest.getMessage)
  }

  test("--ingest classifies a new batch off the durable index, input long gone") {
    val tmp   = Files.createTempDirectory("curate-ingest").toString
    val input = s"$tmp/input"
    val out   = s"$tmp/out"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).cache()
    docs.write.parquet(input)
    CurateMain.run(spark, input, out)
    // the standing corpus's input disappears — ingest must work from the
    // durable deduped/ + banded/ stage tables alone
    deleteRec(Paths.get(input))

    // batch: an exact copy, a near-dup, and a reversed-token novel doc
    val batch = s"$tmp/batch"
    docs.limit(3).select((col("doc_id") + 9000000L).as("doc_id"), col("text"))
      .unionByName(docs.limit(3)
        .select((col("doc_id") + 9100000L).as("doc_id"),
          concat(col("text"), lit(" zzz")).as("text")))
      .unionByName(docs.limit(3)
        .select((col("doc_id") + 9200000L).as("doc_id"),
          array_join(reverse(split(trim(col("text")), "\\s+")), " ").as("text")))
      .write.parquet(batch)

    val json = CurateMain.ingest(spark, out, batch, "t1")
    assert(json.contains("\"exactDup\":3"), json)
    assert(json.contains("\"novel\":3"), json)
    val byId = spark.read.parquet(s"$out/ingest/t1").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId.filter(_._1 >= 9200000L).values.forall(_ == "novel"))
    assert(byId.filter(kv => kv._1 >= 9000000L && kv._1 < 9100000L).values.forall(_ == "exact_dup"))
    // near-dups: never exact; (tiny docs may miss the 0.8 jaccard bar)
    assert(byId.filter(kv => kv._1 >= 9100000L && kv._1 < 9200000L)
      .values.forall(s => s == "near_dup" || s == "novel"))

    def multiset(path: String) = spark.read.parquet(path).collect()
      .map(_.toString).groupBy(identity).view.mapValues(_.size).toMap
    val t1Set = multiset(s"$out/ingest/t1")

    // KILL MID-INGEST: a second runId dies mid-write — no _SUCCESS, a
    // partial part file left behind. The rerun must land exactly where a
    // clean single-pass ingest would (t1's classification of the same
    // batch), never half-merge with the partial state.
    val t2 = Paths.get(s"$out/ingest/t2")
    Files.createDirectories(t2)
    Files.write(t2.resolve("part-00000-dead.parquet"), Array[Byte](1, 2, 3))
    assert(!Files.exists(t2.resolve("_SUCCESS")))
    val json2 = CurateMain.ingest(spark, out, batch, "t2")
    assert(json2.contains("\"exactDup\":3"), json2)
    assert(multiset(s"$out/ingest/t2") == t1Set,
      "rerun after mid-ingest kill differs from a clean single-pass ingest")

    // IDEMPOTENT RERUN after success: _SUCCESS present ⇒ the committed
    // table is re-read, nothing recomputed — counts and rows unchanged
    // even though the BATCH input is gone (the hard proof of "no
    // recompute", the same input-deleted discipline as the resume test).
    deleteRec(Paths.get(batch))
    val json3 = CurateMain.ingest(spark, out, batch, "t2")
    assert(json3.contains("\"exactDup\":3"), json3)
    assert(multiset(s"$out/ingest/t2") == t1Set)
    docs.unpersist()
    ()
  }

  test("--ingest against a MUTATED standing index reclassifies yesterday's novelty") {
    // Day 1: curate corpus A, ingest a batch — its fabricated docs are
    // novel. Day 2: the standing index is REBUILT over A ∪ batch (the
    // merge a production pipeline runs after accepting novel docs). The
    // same batch re-ingested against the mutated index must now classify
    // as exact_dup — the classification tracks the index state, not the
    // session that built it.
    val tmp = Files.createTempDirectory("curate-mutate").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).cache()
    docs.write.parquet(s"$tmp/inputA")
    CurateMain.run(spark, s"$tmp/inputA", s"$tmp/day1")

    val batch = s"$tmp/batch"
    docs.limit(3)
      .select((col("doc_id") + 9500000L).as("doc_id"),
        array_join(reverse(split(trim(col("text")), "\\s+")), " ").as("text"))
      .write.parquet(batch)
    val day1 = CurateMain.ingest(spark, s"$tmp/day1", batch, "b1")
    assert(day1.contains("\"novel\":3"), day1)

    // merge: standing corpus grows by the accepted batch, index rebuilt
    spark.read.parquet(s"$tmp/inputA").unionByName(spark.read.parquet(batch))
      .write.parquet(s"$tmp/inputAB")
    CurateMain.run(spark, s"$tmp/inputAB", s"$tmp/day2")
    val day2 = CurateMain.ingest(spark, s"$tmp/day2", batch, "b1")
    assert(day2.contains("\"exactDup\":3"), day2)
    assert(day2.contains("\"novel\":0"), day2)
    docs.unpersist()
    ()
  }
}
