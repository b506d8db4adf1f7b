package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("self time is a span's duration minus what its children cover") {
    val spans = Seq(
      Span(1, 1, 0, "query", 0, 100),
      Span(2, 1, 1, "query.plan", 10, 30),
      Span(3, 1, 1, "query.exec", 20, 60),   // overlaps plan
      Span(4, 1, 3, "spark.job", 30, 50))
    val self = Trace.selfTimesMs(spans).map { case (k, v) => k -> v * 1e6 }
    assert(self("query") == 50.0)     // 100 - union(10..60)
    assert(self("query.plan") == 20.0)
    assert(self("query.exec") == 20.0)
    assert(self("spark.job") == 20.0)
  }

  test("an untraced operation records nothing") {
    val t = new Trace(enabled = true)
    t.on = false
    assert(t.span("x", 1, 0)(_ => 5) == 5)
    assert(t.all.isEmpty)
  }
}
