package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** `CurateMain.parseArgs` rejects a bad command line by name, before any
  * Spark session starts (this suite never starts one). */
class CurateArgsSpec extends AnyFunSuite {

  private def rejected(args: String*): String =
    intercept[IllegalArgumentException](CurateMain.parseArgs(args)).getMessage

  test("garbage command lines fail with a named IllegalArgumentException") {
    val tmp     = Files.createTempDirectory("curate-args")
    val missing = tmp.resolve("missing.parquet").toString
    val batch   = Files.createDirectory(tmp.resolve("batch.parquet")).toString
    val done    = Files.createDirectory(tmp.resolve("done"))
    Files.writeString(done.resolve("STAGES.json"), """{"nRaw":1,"nBuckets":1,"sigRule":2}""")

    assert(rejected().contains("usage"))
    assert(rejected("only-one").contains("usage"))
    assert(rejected("a", "b", "c").contains("usage"))
    assert(rejected("--ingest").contains("--ingest needs"))
    assert(rejected("--ingest", batch).contains("--ingest needs"))
    assert(rejected("--ingest", batch, done.toString, "r1", "extra").contains("--ingest needs"))
    assert(rejected("--ingest", missing, done.toString).contains("batch parquet"))
    assert(rejected("--ingest", batch, tmp.resolve("nowhere").toString).contains("STAGES.json"))
    // no input, and the outDir has no committed deduped stage to resume from
    assert(rejected(missing, tmp.resolve("out").toString).contains("does not exist"))
    assert(rejected(missing, done.toString).contains("does not exist"))
  }

  test("well-formed command lines parse, and a resume needs no input") {
    val tmp   = Files.createTempDirectory("curate-args-ok")
    val input = Files.createDirectory(tmp.resolve("docs.parquet")).toString
    val done  = Files.createDirectories(tmp.resolve("done/stages/deduped"))
    Files.writeString(tmp.resolve("done/STAGES.json"), """{"nRaw":1,"nBuckets":1,"sigRule":2}""")
    Files.createFile(done.resolve("_SUCCESS"))
    val out = tmp.resolve("done").toString

    assert(CurateMain.parseArgs(Seq(input, "o")) == CurateMain.Curate(input, "o"))
    val gone = tmp.resolve("deleted.parquet").toString
    assert(CurateMain.parseArgs(Seq(gone, out)) == CurateMain.Curate(gone, out))
    assert(CurateMain.parseArgs(Seq("--ingest", input, out)) ==
      CurateMain.Ingest(input, out, "i1"))
    assert(CurateMain.parseArgs(Seq("--ingest", input, out, "r2")) ==
      CurateMain.Ingest(input, out, "r2"))
  }

  test("the input and the batch may be a file: URI or a glob, as spark.read.parquet takes them") {
    val tmp  = Files.createTempDirectory("curate-args-uri")
    val docs = Files.createDirectory(tmp.resolve("docs"))
    Files.createFile(docs.resolve("part-0.parquet"))
    Files.createFile(docs.resolve("part-1.parquet"))
    Files.writeString(tmp.resolve("STAGES.json"), """{"nRaw":1,"nBuckets":1,"sigRule":2}""")
    val out  = tmp.toString
    val uri  = docs.toUri.toString // file:/...
    val glob = s"$docs/*.parquet"

    assert(uri.startsWith("file:/"))
    assert(CurateMain.parseArgs(Seq(uri, "o")) == CurateMain.Curate(uri, "o"))
    assert(CurateMain.parseArgs(Seq(glob, "o")) == CurateMain.Curate(glob, "o"))
    assert(CurateMain.parseArgs(Seq("--ingest", glob, out)) == CurateMain.Ingest(glob, out, "i1"))
    assert(CurateMain.parseArgs(Seq("--ingest", uri, out)) == CurateMain.Ingest(uri, out, "i1"))
    // a URI or a glob that names nothing is still rejected
    assert(rejected(tmp.resolve("gone").toUri.toString, "o").contains("does not exist"))
    assert(rejected(s"$docs/*.orc", "o").contains("does not exist"))
    assert(rejected("--ingest", s"$docs/*.orc", out).contains("batch parquet"))
  }
}
