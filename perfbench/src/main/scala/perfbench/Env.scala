package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One measured value with its unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, n: Long)

/** State shared by a run: the session, the seed, the tracer, the failure
  * count and the metrics the workload reports. */
final class Env(val spark: SparkSession, val work: java.nio.file.Path,
                val seed: Long, val seconds: Double, val traced: Boolean,
                val nproc: Int, val nDocs: Int) {

  val tracer = new Tracer(traced)
  val rollup: Option[StageRollup] =
    if (traced) Some(new StageRollup(spark.sparkContext)) else None

  /** End-to-end metrics (untraced runs) and per-layer metrics (traced). */
  val e2e = mutable.LinkedHashMap.empty[String, Metric]
  /** End-to-end numbers too noisy on a shared box to gate a change: they go
    * to the report line only. */
  val reported = mutable.LinkedHashMap.empty[String, Metric]
  val layers = mutable.LinkedHashMap.empty[String, Metric]
  /** Facts about the run that are not metrics: input sizes, digests. */
  val facts = mutable.LinkedHashMap.empty[String, String]

  /** Start of the builds the per-layer build metrics describe, as
    * (System.nanoTime, wall-clock ms): the `build` workload skips its
    * warm-up builds. */
  var buildsFrom: (Long, Long) = (Long.MinValue, Long.MinValue)

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Span around a call into a layer. */
  def layer[T](name: String, req: Long = -1L)(f: => T): T = tracer.span(name, req)(f)

  /** Span around a call that runs Spark jobs: also the job group the
    * stage roll-up credits. */
  def sparkLayer[T](name: String)(f: => T): T =
    tracer.span(name)(rollup.fold(f)(_.phase(name)(f)))

  /** Run one operation; an exception counts it as failed. */
  def op[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case scala.util.control.NonFatal(e) =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Check an already-counted operation's output; a wrong one counts as
    * failed. */
  def check(what: String)(ok: => Boolean): Unit = {
    val good =
      try ok
      catch { case scala.util.control.NonFatal(e) => fail(s"$what threw $e"); return }
    if (!good) fail(what)
  }

  private def fail(msg: String): Unit = {
    failed += 1
    if (failures.length < 20) failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  def dir(name: String): String = work.resolve(name).toString
}
