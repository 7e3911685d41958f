package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** In-memory spans recorded by the benchmark around its calls into each
  * layer. Driver-thread only: the benchmark itself is sequential, Spark
  * does the parallel work. Disabled tracers run the body and record
  * nothing. */
final class Tracer(val on: Boolean) {
  import Tracer.Span

  private val done = mutable.ArrayBuffer.empty[Span]
  // (id, request id, start)
  private var stack: List[(Int, Long, Long)] = Nil
  private var nextId = 1

  def span[T](name: String, req: Long = -1L)(f: => T): T =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      val r = if (req >= 0) req else stack.headOption.map(_._2).getOrElse(-1L)
      val t0 = System.nanoTime()
      stack = (id, r, t0) :: stack
      try f
      finally {
        stack = stack.tail
        done += Span(id, parent, r, name, t0, System.nanoTime())
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Durations (ns) of the spans with this name that started at or after
    * `since` (System.nanoTime). */
  def durations(name: String, since: Long = Long.MinValue): Seq[Long] =
    done.iterator.filter(s => s.name == name && s.start >= since)
      .map(s => s.end - s.start).toSeq

  /** Write the spans as compact JSON: a name table and one
    * [id, parent, request, name index, start µs, duration µs] row each. */
  def write(path: java.nio.file.Path): Unit = {
    val names = done.map(_.name).distinct
    val idx = names.zipWithIndex.toMap
    val t0 = if (done.isEmpty) 0L else done.map(_.start).min
    val sb = new StringBuilder
    sb ++= "{\"names\":["
    sb ++= names.map(Json.str).mkString(",")
    sb ++= "],\"spans\":["
    var first = true
    done.sortBy(_.id).foreach { s =>
      if (!first) sb += ','
      first = false
      sb ++= s"[${s.id},${s.parent},${s.req},${idx(s.name)}," +
        s"${(s.start - t0) / 1000},${(s.end - s.start) / 1000}]"
    }
    sb ++= "]}\n"
    java.nio.file.Files.write(path,
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, req: Long, name: String,
                        start: Long, end: Long)
}

/** Stage metrics rolled up per benchmark phase. The benchmark opens a
  * phase around each Spark-facing layer call and sets it as the job group;
  * a job is credited to the phase whose interval contains its submission
  * time, which also catches jobs the library submits from its own
  * threads (those inherit no job group). */
final class StageRollup(sc: SparkContext) extends SparkListener {

  final class Acc {
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleRecords = 0L
    var spillBytes = 0L
    /** stage id -> (task durations ms, shuffle bytes read) */
    val stages = mutable.HashMap.empty[Int, (mutable.ArrayBuffer[Long], Long)]
  }

  private case class Phase(name: String, from: Long, var to: Long)
  private val phases = mutable.ArrayBuffer.empty[Phase]
  private val jobTimes = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val tasks =
    new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerTaskEnd]()

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    e.stageIds.foreach(s => jobTimes.put(s, e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.add(e)

  def phase[T](name: String)(f: => T): T = {
    val p = Phase(name, System.currentTimeMillis(), Long.MaxValue)
    phases.synchronized(phases += p)
    sc.setJobGroup(name, name)
    try f
    finally {
      p.to = System.currentTimeMillis()
      sc.clearJobGroup()
    }
  }

  /** Per-phase totals of the tasks of jobs submitted at or after `sinceMs`
    * (wall clock). */
  def rollup(sinceMs: Long = Long.MinValue): Map[String, Acc] = {
    org.apache.spark.perfbenchshim.BusShim.drain(sc)
    val ps = phases.synchronized(phases.toList)
    def phaseOf(t: Long): Option[String] =
      ps.filter(p => p.from <= t && t <= p.to).lastOption.map(_.name)
    val out = mutable.HashMap.empty[String, Acc]
    tasks.forEach { e =>
      val submitted = Option(jobTimes.get(e.stageId)).getOrElse(e.taskInfo.launchTime)
      if (submitted >= sinceMs) phaseOf(submitted).foreach { name =>
        val a = out.getOrElseUpdate(name, new Acc)
        val (durs, read) = a.stages.getOrElse(e.stageId, (mutable.ArrayBuffer.empty[Long], 0L))
        durs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          a.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
          a.stages(e.stageId) = (durs, read + m.shuffleReadMetrics.totalBytesRead)
        } else a.stages(e.stageId) = (durs, read)
      }
    }
    out.toMap
  }
}

object StageRollup {
  /** max / median task time of the stage that read the most shuffle bytes
    * (the salted shuffle's reduce side in a build); 1.0 if no stage read. */
  def skew(accs: Seq[StageRollup#Acc]): Double = {
    val stages = accs.flatMap(_.stages.values).filter(_._2 > 0)
    if (stages.isEmpty) 1.0
    else {
      val durs = stages.maxBy(_._2)._1.map(_.toDouble).toSeq
      durs.max / math.max(1.0, Stats.median(durs))
    }
  }
}

/** Just enough JSON writing for the result line and the reports. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
