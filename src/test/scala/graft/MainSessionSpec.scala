package graft

import org.scalatest.funsuite.AnyFunSuite

/** The mains' environment and key-list checks, on plain maps and strings:
  * every bad value fails with an error naming the variable or key, and no
  * session is started. */
class MainSessionSpec extends AnyFunSuite {
  private val host = Runtime.getRuntime.availableProcessors

  private def rejects(name: String)(body: => Any): Unit = {
    val e = intercept[IllegalArgumentException](body)
    assert(e.getMessage.contains(name), e.getMessage)
  }

  test("cpus: unset is the host's processors, a positive integer passes") {
    assert(MainSession.cpus(Map.empty) == host)
    assert(MainSession.cpus(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
  }

  test("cpus: anything but a positive integer is rejected by name") {
    for (v <- Seq("0", "-2", "abc", "4.5", ""))
      rejects("SPARK_GRAFT_CPUS")(MainSession.cpus(Map("SPARK_GRAFT_CPUS" -> v)))
  }

  test("master: a URL passes through, unset is local[cpus], empty is rejected") {
    assert(MainSession.master(Map("SPARK_GRAFT_MASTER" -> "spark://h:7077")) == "spark://h:7077")
    assert(MainSession.master(Map.empty) == s"local[$host]")
    assert(MainSession.master(Map("SPARK_GRAFT_CPUS" -> "3")) == "local[3]")
    rejects("SPARK_GRAFT_MASTER")(MainSession.master(Map("SPARK_GRAFT_MASTER" -> "")))
    rejects("SPARK_GRAFT_CPUS")(MainSession.master(Map("SPARK_GRAFT_CPUS" -> "abc")))
  }

  test("positiveInt: SPARK_GRAFT_REPS=0 is rejected by name, unset takes the default") {
    rejects("SPARK_GRAFT_REPS")(MainSession.positiveInt(Map("SPARK_GRAFT_REPS" -> "0"), "SPARK_GRAFT_REPS", 3))
    assert(MainSession.positiveInt(Map.empty, "SPARK_GRAFT_REPS", 3) == 3)
  }

  test("keys: a valid list is returned, unknown keys are named, an empty list is rejected") {
    assert(SparkEntry.keys("q_sessionize,stream_sessionize") == Seq("q_sessionize", "stream_sessionize"))
    rejects("nope")(SparkEntry.keys("q_sessionize,nope"))
    rejects("q_sesionize")(SparkEntry.keys("q_sesionize"))
    rejects("catalog keys")(SparkEntry.keys(""))
  }
}
