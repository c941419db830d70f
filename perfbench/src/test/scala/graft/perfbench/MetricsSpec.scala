package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** BENCHMARK.json at the repository root and the metrics the benchmark
  * reports must name the same things. */
class MetricsSpec extends AnyFunSuite {
  private lazy val spec: JsonNode =
    new ObjectMapper().readTree(Files.readString(Paths.get("..", "BENCHMARK.json")))

  private def declared(key: String): Seq[(String, String, String)] =
    spec.get(key).elements().asScala.toSeq
      .map(m => (m.get("name").asText, m.get("unit").asText, m.get("better").asText))

  private def defs(ds: Seq[Metrics.Def]) = ds.map(d => (d.name, d.unit, d.better))

  test("end-to-end metrics match BENCHMARK.json in name, unit and direction") {
    assert(declared("end_to_end") == defs(Metrics.EndToEnd))
  }

  test("per-layer metrics match BENCHMARK.json in name, unit and direction") {
    assert(declared("per_layer") == defs(Metrics.PerLayer))
  }

  test("workloads match BENCHMARK.json, and each measures only declared layers") {
    val names = spec.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
    assert(names == Workload.Names)
    val perLayer = Metrics.PerLayer.map(_.name).toSet
    Workload.Names.foreach { w =>
      val undeclared = Workload(w, 1L, 4).layerMetrics.filterNot(perLayer)
      assert(undeclared.isEmpty, s"$w measures undeclared metrics $undeclared")
    }
  }

  test("every end-to-end bound is within the allowed 0.25, and setup_s is declared") {
    val e2e = spec.get("end_to_end").elements().asScala.toSeq
    e2e.foreach(m => assert(m.get("bound").asDouble > 0 && m.get("bound").asDouble <= 0.25))
    assert(e2e.exists(m => m.get("name").asText == "setup_s" && m.get("unit").asText == "s" &&
      m.get("better").asText == "lower"))
  }

  test("render refuses a result that misses a metric") {
    val e = intercept[IllegalArgumentException] {
      Metrics.render(Metrics.EndToEnd, Map("setup_s" -> 1.0))
    }
    assert(e.getMessage.contains("followup_s"))
  }
}
