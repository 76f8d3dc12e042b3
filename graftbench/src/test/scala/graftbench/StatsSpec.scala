package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile takes the nearest rank") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.median(xs) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 91) == 10.0)
    assert(Stats.percentile(Seq(3.0), 90) == 3.0)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0) // input order does not matter
    // a mix of three unlike queries: the p50 is the middle query's fastest
    // copy and the p90 the slowest query's, for one round or four
    val round = Seq(0.2, 1.0, 3.0)
    Seq(1, 2, 4).foreach { k =>
      val ops = Seq.fill(k)(round).flatten
      assert(Stats.median(ops) == 1.0 && Stats.percentile(ops, 90) == 3.0, s"$k rounds")
    }
  }

  test("sample-count rule: p90 of 100 samples has 10 beyond it") {
    assert(Stats.samplesBeyond(100, 90) == 10)
    assert(Stats.samplesBeyond(99, 90) == 9)
    assert(Stats.samplesBeyond(10, 50) == 5)
    assert(Stats.highestReportable(100).contains(90))
    assert(Stats.highestReportable(200).contains(95))
    assert(Stats.highestReportable(20).contains(50))
    assert(Stats.highestReportable(10).isEmpty)
    assert(Stats.highestReportable(5, k = 1).contains(80))
  }

  test("union length counts overlapping intervals once") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0) // empty and inverted
    assert(Stats.clip(Seq((0L, 10L), (20L, 30L)), 5L, 25L) == Seq((5L, 10L), (20L, 25L)))
  }

  test("self time subtracts the covered part of each span's direct children") {
    // op [0,100): construct [10,40) with two overlapping jobs, exec [50,90)
    val spans = Seq(
      Span(0, -1, 1, "op", 0, 100),
      Span(1, 0, 1, "queries.construct", 10, 40),
      Span(2, 1, 1, "spark.job", 15, 25),
      Span(3, 1, 1, "spark.job", 20, 30),
      Span(4, 0, 1, "exec", 50, 90),
      // a child running past its parent counts only inside the parent
      Span(5, 4, 1, "spark.job", 80, 120))
    val self = SelfTime.of(spans)
    assert(self(0) == 100 - 30 - 40)
    assert(self(1) == 30 - 15)
    assert(self(2) == 10 && self(3) == 10)
    assert(self(4) == 40 - 10)
    assert(SelfTime.byName(spans)("spark.job") == 10 + 10 + 40)
    assert(SelfTime.unexplained(spans.head, spans) == 30)
  }

  test("a disabled tracer records nothing and still runs the body") {
    val t = new Tracer(false)
    assert(t.span("x")(41 + 1) == 42)
    assert(t.all.isEmpty)
    val on = new Tracer(true)
    on.op = 7
    on.span("outer")(on.span("inner")(Thread.sleep(2)))
    val inner = on.all.find(_.name == "inner").get
    val outer = on.all.find(_.name == "outer").get
    assert(inner.parent == outer.id && outer.parent == -1 && inner.op == 7)
    on.attach("spark.job", 7, inner.start, inner.start)
    assert(on.all.last.parent == inner.id)
  }
}
