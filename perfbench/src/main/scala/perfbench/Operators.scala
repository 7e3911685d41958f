package perfbench

import scala.collection.mutable
import graft.operators.{DupClusters, IndexOps}

/** The 61 `SparkEntry.queries` over the repository's TPC-H-ish test
  * tables. The tables are the sf0.001 set (seed 42) the tier-1 specs read,
  * copied unchanged into `perfbench/data/sf0.001` so that the benchmark
  * reads nothing outside its checkout. */
object Operators {

  /** Relative to the checkout root, where run.py starts the JVM; `--tables`
    * points a hand run at another scale. */
  @volatile var tables: String = "perfbench/data/sf0.001"

  /** The operators module each `SparkEntry.queries` entry calls. */
  val modules: Seq[(String, Seq[Int])] = Seq(
    "Relational" -> Seq(1, 2, 3, 4, 22),
    "TextRelational" -> Seq(5, 6, 7, 8, 51, 57, 59),
    "IndexOps" -> Seq(9, 28, 54, 55, 60),
    "Dedup" -> Seq(10, 11, 12, 13, 14, 27, 35, 41, 44),
    "Similarity" -> Seq(15, 16, 23, 24, 34, 36, 43, 46, 47, 48),
    "TextAnalysis" -> Seq(17, 18, 19, 20, 25, 26, 29),
    "Multimodal" -> Seq(21),
    "Assembly" -> Seq(30, 31, 38, 39, 45, 50),
    "DupClusters" -> Seq(32, 40, 42, 56),
    "LmScore" -> Seq(33, 37, 52),
    "Versioning" -> Seq(49),
    "Retrieval" -> Seq(53),
    "Classifier" -> Seq(58),
    "BpeTrainer" -> Seq(61))

  /** One pass: the cold per-JVM artifacts, a first run of every query that
    * collects its result (row count and order-insensitive hash, checked
    * against the golden digest), then a warm run that `count()`s each
    * result, which must match the first. Times in seconds. */
  final case class Pass(artifacts: Seq[(String, Double)],
                        warm: mutable.LinkedHashMap[String, Double], warmTotal: Double)

  def pass(env: Env): Pass = {
    val spark = env.spark
    val dir = tables
    val artifacts = Seq[(String, () => Any)](
      "operators.IndexOps.indexFor" -> (() => IndexOps.indexFor(spark, dir)),
      "operators.DupClusters.labels" -> (() => DupClusters.labels(spark, dir))
    ).map { case (name, make) =>
      val t0 = System.nanoTime()
      env.op(name)(env.sparkLayer(name)(make()))
      name -> (System.nanoTime() - t0) / 1e9
    }
    val queries = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    val first = queries.map { case (name, q) =>
      env.op(s"$name first run") {
        val rows = q(spark, dir).collect().map(_.toString)
        (rows.length.toLong, Stats.digest(rows.toSeq))
      }
    }
    Golden.check(env, Stats.digest(queries.zip(first).map { case ((name, _), r) =>
      s"$name|" + r.map { case (n, h) => s"$n|$h" }.getOrElse("failed") }),
      s"ops/${new java.io.File(dir).getName}")
    val warm = mutable.LinkedHashMap.empty[String, Double]
    val t0 = System.nanoTime()
    queries.zip(first).foreach { case ((name, q), expected) =>
      val s = System.nanoTime()
      env.op(s"$name count") {
        val n = env.sparkLayer(s"operators.$name")(q(spark, dir).count())
        env.check(s"$name count $n != first run ${expected.map(_._1)}")(expected.exists(_._1 == n))
      }
      warm(name) = (System.nanoTime() - s) / 1e9
    }
    Pass(artifacts, warm, (System.nanoTime() - t0) / 1e9)
  }

  /** Bytes of text the operator index is built from. */
  def textBytes(env: Env): Long = {
    import org.apache.spark.sql.functions.{col, length, sum}
    env.spark.read.parquet(s"$tables/documents.parquet")
      .agg(sum(length(col("text")))).head().getLong(0)
  }

  /** Per-layer times: each query's warm count, one sum per module, and
    * the cold artifacts. */
  def layerMetrics(env: Env, p: Pass): Unit = {
    val L = env.layers
    p.warm.foreach { case (name, sec) => L(s"operators.${name}_s") = Metric(sec, "s", 1) }
    modules.foreach { case (module, qs) =>
      val secs = p.warm.collect { case (name, sec) if qs.contains(name.drop(1).take(2).toInt) => sec }
      L(s"operators.${module}_s") = Metric(secs.sum, "s", secs.size)
    }
    p.artifacts.foreach { case (name, sec) => L(s"${name}_s") = Metric(sec, "s", 1) }
  }
}
