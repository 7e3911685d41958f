package perfbench

/** Summary statistics shared by every workload. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.length)

  /** Percentiles a tail may be reported at, highest first. */
  val TailLadder: Seq[Double] = Seq(99.0, 95.0, 90.0, 75.0, 50.0)

  /** The tail rule: the highest percentile of [[TailLadder]] that leaves at
    * least `beyond` samples above it (nearest-rank). With too few samples
    * for any of them the maximum is reported as percentile 100. Returns
    * (percentile, value). */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    TailLadder.iterator.map { p =>
      val i = math.max(0, math.ceil(p / 100.0 * n).toInt - 1)
      (p, i, n - 1 - i)
    }.collectFirst { case (p, i, above) if above >= beyond => (p, s(i)) }
      .getOrElse((100.0, s.last))
  }

  /** Self time of every span: its duration minus the part of its interval
    * covered by its children (children clipped to the parent; overlapping
    * children counted once). */
  def selfTimes(spans: Seq[Tracer.Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { sp =>
      val iv = kids.getOrElse(sp.id, Nil)
        .map(c => (math.max(c.start, sp.start), math.min(c.end, sp.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      sp.id -> (sp.end - sp.start - covered)
    }.toMap
  }

  /** Order-insensitive digest of result lines: SHA-256 over the sorted
    * lines, first 16 hex digits. */
  def digest(lines: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.toSeq.sorted.foreach { l =>
      md.update(l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
