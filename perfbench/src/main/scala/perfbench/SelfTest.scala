package perfbench

/** Self-tests of the benchmark's own arithmetic; run.py --selftest runs
  * these first, then a tiny run of every workload. */
object SelfTest {

  private var failures = 0

  private def expect(what: String)(ok: => Boolean): Unit = {
    val good = try ok catch { case e: Exception => println(s"  $what threw $e"); false }
    println(s"  ${if (good) "ok  " else "FAIL"} $what")
    if (!good) failures += 1
  }

  def main(a: Array[String]): Unit = {
    println("[selftest] percentile rule")
    val xs = (1 to 2000).map(_.toDouble)
    expect("2000 samples report p99 (20 beyond it)")(Stats.tail(xs) == ((99.0, 1980.0)))
    expect("500 samples report p95: p99 leaves only 5 beyond")(Stats.tail(xs.take(500)) == ((95.0, 475.0)))
    expect("40 samples report p75 (10 beyond)")(Stats.tail(xs.take(40)) == ((75.0, 30.0)))
    expect("3 samples report the maximum as p100")(Stats.tail(Seq(5.0, 1.0, 3.0)) == ((100.0, 5.0)))
    expect("median of an even count averages the middle pair")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    println("[selftest] self-time arithmetic")
    import Tracer.Span
    val spans = Seq(
      Span(1, 0, 7, "query", 0, 100),
      Span(2, 1, 7, "lookup", 10, 40),
      Span(3, 1, 7, "wand", 30, 70), // overlaps lookup: counted once
      Span(4, 3, 7, "decode", 35, 45), // grandchild: not the query's child
      Span(5, 1, 7, "late", 90, 120)) // clipped to its parent's end
    val self = Stats.selfTimes(spans)
    expect("parent self = 100 - covered [10,70] - [90,100]")(self(1) == 30L)
    expect("leaf self = its duration")(self(2) == 30L && self(4) == 10L)
    expect("child self excludes its own child")(self(3) == 30L)
    val t = new Tracer(true)
    t.span("outer", req = 3)(t.span("inner")(Thread.sleep(2)))
    val sp = t.spans.sortBy(_.id)
    expect("tracer links parent ids and carries the request id")(
      sp(1).parent == sp(0).id && sp.forall(_.req == 3))

    println("[selftest] digest")
    expect("digest ignores line order")(Stats.digest(Seq("a", "b")) == Stats.digest(Seq("b", "a")))
    expect("digest sees a changed line")(Stats.digest(Seq("a", "b")) != Stats.digest(Seq("a", "c")))

    println(s"[selftest] ${if (failures == 0) "all passed" else s"$failures failed"}")
    if (failures != 0) sys.exit(1)
  }
}
