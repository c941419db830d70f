package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("interpolated quantiles agree with Python's statistics.quantiles(method='inclusive')") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.quantile(xs, 0.25) == 3.25)
    assert(Stats.quantile(xs, 0.75) == 7.75)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 10.0)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.percentile(xs, 99) == 990.0)
    assert(Stats.percentile(xs, 50) == 500.0)
    assert(Stats.percentile(Seq(5.0, 1.0), 99) == 5.0)
    assert(Stats.percentile(Seq(5.0, 1.0), 1) == 1.0)
  }

  test("self time subtracts the union of the children, clipped to the parent") {
    assert(Stats.selfTime(0, 100, Seq.empty) == 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (50L, 60L))) == 70)
    // overlapping children count once
    assert(Stats.selfTime(0, 100, Seq((10L, 40L), (30L, 50L))) == 60)
    // a child running past the parent's end is clipped
    assert(Stats.selfTime(0, 100, Seq((90L, 150L))) == 90)
    // nested children: the inner one is already covered
    assert(Stats.selfTime(0, 100, Seq((0L, 100L), (20L, 30L))) == 0)
  }

  test("the tracer links spans to their parents and records counts at the boundary") {
    val t = new Tracer("test", None)
    t.span("root") {
      t.span("a")(Thread.sleep(20))
      t.span("b") { t.count("rows", 3); Thread.sleep(20) }
    }
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("root").parent == -1)
    assert(byName("a").parent == byName("root").id)
    assert(byName("b").parent == byName("root").id)
    assert(byName("b").counters("rows") == 3)
    val root = byName("root")
    assert(t.selfNs(root) >= 0)
    assert(t.selfNs(root) < (root.endNs - root.startNs) - 30000000L)
    assert(t.selfNs(byName("a")) == byName("a").endNs - byName("a").startNs)
  }

  test("an absent tracer runs the body and records nothing") {
    assert(Trace.span(None, "x")(41 + 1) == 42)
  }
}
