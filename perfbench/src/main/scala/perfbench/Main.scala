package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM (launched by run.py):
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --out <dir> [--docs <n>] [--golden <file>]
  *                [--record-golden] [--tables <dir>]
  * perfbench.Main --golden-seeds <lo>-<hi> --docs <n> --golden <file> --work <dir>
  * perfbench.Main --selftest
  * }}}
  *
  * Prints a human-readable metric table on stderr, one `PERFBENCH_REPORT`
  * JSON line with every metric, its unit and sample count, the box and the
  * noise, then the result line: end-to-end metrics untraced, per-layer
  * metrics traced. */
object Main {

  final case class Box(nproc: Int, memTotalMb: Long, heapMb: Long)

  /** /proc/stat cpu line: (steal, total) jiffies. */
  def cpuTimes(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val xs = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (xs.length > 7) xs(7) else 0L, xs.take(8).sum)
      } finally f.close()
    } catch { case _: Exception => (0L, 0L) }

  private def procField(file: String, key: String): Option[Long] =
    try {
      val f = scala.io.Source.fromFile(file)
      try f.getLines().find(_.startsWith(key + ":"))
        .map(_.split("\\s+")(1).toLong)
      finally f.close()
    } catch { case _: Exception => None }

  def box(): Box = Box(Runtime.getRuntime.availableProcessors(),
    procField("/proc/meminfo", "MemTotal").getOrElse(0L) / 1024,
    Runtime.getRuntime.maxMemory() / (1024 * 1024))

  def peakRssMb(): Double =
    procField("/proc/self/status", "VmHWM").getOrElse(0L) / 1024.0

  def session(nproc: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * nproc).toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(work.resolve("checkpoints").toString)
    s
  }

  /** The last occurrence wins, so a caller can override a default. */
  private def arg(a: Array[String], k: String): Option[String] = {
    val i = a.lastIndexOf(k)
    if (i >= 0 && i + 1 < a.length) Some(a(i + 1)) else None
  }

  def main(a: Array[String]): Unit = {
    if (a.contains("--selftest")) { SelfTest.main(a); return }
    arg(a, "--golden-seeds").foreach { range =>
      val Array(lo, hi) = range.split('-').map(_.toLong)
      val work = Paths.get(arg(a, "--work").getOrElse(sys.error("--work is required")))
      Golden.file = Some(Paths.get(arg(a, "--golden").getOrElse(sys.error("--golden is required"))))
      Golden.record = true
      val nproc = Runtime.getRuntime.availableProcessors()
      val spark = session(nproc, work)
      try Workloads.recordGolden(spark, work, nproc,
        arg(a, "--docs").map(_.toInt).getOrElse(sys.error("--docs is required")), lo to hi)
      finally spark.stop()
      return
    }
    val workload = arg(a, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(a, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(a, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(a, "--trace").contains("1")
    val work = Paths.get(arg(a, "--work").getOrElse(sys.error("--work is required")))
    val out = Paths.get(arg(a, "--out").getOrElse(work.toString))
    val docs = arg(a, "--docs").map(_.toInt).getOrElse(Workloads.docsFor(workload))
    Golden.file = arg(a, "--golden").map(Paths.get(_))
    Golden.record = a.contains("--record-golden")
    arg(a, "--tables").foreach(Operators.tables = _)
    require(Workloads.names.contains(workload),
      s"unknown workload $workload (${Workloads.names.mkString(", ")})")
    Files.createDirectories(work)
    Files.createDirectories(out)

    val (steal0, total0) = cpuTimes()
    val t0 = System.nanoTime()
    val b = box()
    val spark = session(b.nproc, work)
    val env = new Env(spark, work, seed, seconds, traced, b.nproc, docs)
    try Workloads.run(env, workload)
    finally spark.stop()
    val (steal1, total1) = cpuTimes()
    val wall = (System.nanoTime() - t0) / 1e9
    env.reported("peak_rss_mb") = Metric(peakRssMb(), "MB", 1)

    val tag = s"$workload-$seed"
    if (traced) env.tracer.write(out.resolve(s"trace-$tag.json"))
    // tracing overhead: this traced run against the untraced run of the
    // same workload and seed, when one was made
    val e2eFile = out.resolve(s"e2e-$tag.json")
    val opP50 = env.reported("op_p50_ms").value
    if (!traced) Files.write(e2eFile, Json.num(opP50).getBytes("UTF-8"))
    else if (Files.exists(e2eFile)) {
      val untraced = new String(Files.readAllBytes(e2eFile), "UTF-8").trim.toDouble
      env.facts("trace_overhead_ms") = Json.num(opP50 - untraced)
      env.facts("trace_overhead_frac") = Json.num(opP50 / untraced - 1)
    }
    if (traced) {
      val spans = env.tracer.spans
      val self = Stats.selfTimes(spans)
      val queries = spans.filter(s => s.name == "query")
      if (queries.nonEmpty) {
        val covered = queries.map(q => 1.0 - self(q.id).toDouble / math.max(1L, q.end - q.start))
        env.facts("query_child_coverage_median") = Json.num(Stats.median(covered))
      }
      env.facts("spans") = spans.length.toString
    }

    val metrics = if (traced) env.layers else env.e2e
    val report = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "traced" -> traced.toString, "seconds" -> Json.num(seconds),
      "box" -> Json.obj(Seq("nproc" -> b.nproc.toString,
        "mem_total_mb" -> b.memTotalMb.toString, "heap_mb" -> b.heapMb.toString,
        "steal_pct" -> Json.num(if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else 0.0))),
      "wall_s" -> Json.num(wall),
      "attempted" -> env.attempted.toString, "failed" -> env.failed.toString,
      "failed_frac" -> Json.num(env.failed.toDouble / math.max(1L, env.attempted)),
      "failures" -> env.failures.map(Json.str).mkString("[", ",", "]"),
      "facts" -> Json.obj(env.facts.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "metrics" -> Json.obj((env.e2e ++ env.reported ++ env.layers).toSeq.map { case (k, m) =>
        k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit),
          "n" -> m.n.toString)) })))
    Files.write(out.resolve(s"report-$tag-${if (traced) 1 else 0}.json"),
      (report + "\n").getBytes("UTF-8"))

    System.err.println(f"[perfbench] $workload seed=$seed traced=$traced wall=$wall%.1fs " +
      s"attempted=${env.attempted} failed=${env.failed}")
    (env.e2e ++ env.reported ++ env.layers).foreach { case (k, m) =>
      System.err.println(f"[perfbench]   $k%-46s ${m.value}%14.4f ${m.unit}%-6s n=${m.n}")
    }
    env.facts.foreach { case (k, v) => System.err.println(s"[perfbench]   $k = $v") }
    println("PERFBENCH_REPORT " + report)
    println(Json.obj(Seq(
      "correct" -> (env.failed == 0).toString,
      "attempted" -> env.attempted.toString,
      "failed" -> env.failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, m) =>
        k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))) }))))
  }
}
