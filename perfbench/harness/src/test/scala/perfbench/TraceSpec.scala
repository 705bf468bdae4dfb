package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Long, parent: Long, name: String, s: Long, e: Long) =
    Span(id, parent, 1L, name, s, e)

  test("covered counts the union of the parts inside the window") {
    assert(Trace.covered(0, 100, Nil) == 0)
    assert(Trace.covered(0, 100, Seq((10L, 20L), (30L, 40L))) == 20)
    // overlapping and nested parts are counted once
    assert(Trace.covered(0, 100, Seq((10L, 30L), (20L, 40L), (25L, 26L))) == 30)
    // parts are clipped to the window; parts outside it count nothing
    assert(Trace.covered(50, 100, Seq((40L, 60L), (90L, 120L), (0L, 10L))) == 20)
    // touching parts
    assert(Trace.covered(0, 100, Seq((10L, 20L), (20L, 30L))) == 20)
  }

  test("self time is duration minus the time children cover") {
    val spans = Seq(
      span(1, 0, "op", 0, 100),
      span(2, 1, "ddl", 10, 30),
      span(3, 1, "send", 20, 50), // overlaps ddl: 10..50 covered
      span(4, 3, "inner", 25, 45), // grandchild: not the op's child
      span(5, 1, "ddl", 90, 110)) // runs past the op's end: 90..100
    val self = Trace.selfNanos(spans)
    assert(self("op") == 100 - 40 - 10)
    assert(self("send") == 30 - 20)
    assert(self("inner") == 20)
    assert(self("ddl") == 20 + 20) // both ddl spans, no children
  }

  test("listener spans are adopted by the root span holding their midpoint") {
    val spans = Seq(
      span(1, 0, "query.a", 0, 100),
      span(2, 0, "query.b", 100, 200),
      span(3, -1, "spark.job", 90, 130), // midpoint 110: query.b
      span(4, -1, "spark.job", 10, 20),
      span(5, -1, "spark.job", 300, 400), // outside every root
      span(6, -1, "other", 10, 20))
    val adopted = Trace.adopt(spans, "spark.job").map(s => s.id -> s.parent).toMap
    assert(adopted == Map(1L -> 0L, 2L -> 0L, 3L -> 2L, 4L -> 1L, 5L -> -1L,
      6L -> -1L))
    val self = Trace.selfNanos(Trace.adopt(spans, "spark.job"))
    assert(self("query.a") == 100 - 10)
    assert(self("query.b") == 100 - 30)
  }

  test("span records parents and counters only while tracing is on") {
    Trace.reset()
    Trace.span("off")(())
    Trace.count("c")
    assert(Trace.all.isEmpty && Trace.counter("c") == 0)
    Trace.start(7L)
    try {
      Trace.span("root") {
        Trace.span("child")(Trace.count("c", 3))
        // a span opened on another thread hangs under the root
        val t = new Thread(() => Trace.span("worker")(()))
        t.start(); t.join()
      }
    } finally Trace.stop()
    val byName = Trace.all.map(s => s.name -> s).toMap
    assert(byName("root").parent == 0L)
    assert(byName("child").parent == byName("root").id)
    assert(byName("worker").parent == byName("root").id)
    assert(Trace.all.forall(_.run == 7L))
    assert(Trace.counter("c") == 3)
    Trace.reset()
  }
}
