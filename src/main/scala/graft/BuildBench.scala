package graft

import org.apache.spark.sql.SparkSession
import graft.analysis.Tokenizer
import graft.index.Build
import graft.query.Engine

/** Single-measurement child main: one index build (and optionally the
  * query-latency measurement) at a given core count in a FRESH JVM —
  * the sandbox analog of one `spark-submit` at one cluster size.
  * Spawned by graft.Bench; prints parseable KEY=VALUE lines. */
object BuildBench {
  def main(args: Array[String]): Unit = {
    // spec: "N" = local[N] (one JVM, N worker threads) or "WxC" =
    // local-cluster[W,C,mem] (W REAL forked executor JVMs of C cores
    // each — the standalone wire protocol, per-executor heaps, netty
    // shuffle). The second form is the executor-faithful cluster-size
    // simulation: scaling W holds the per-executor shape constant and
    // adds whole machines, exactly what the N-vs-4N-cluster criterion
    // means, where widening local[N] shares one heap/GC/memory system
    // across all rungs.
    val spec = args(0)
    val lc = spec.contains("x")
    val (nWorkers, coresPerWorker) =
      if (lc) { val a = spec.split("x"); (a(0).toInt, a(1).toInt) }
      else (1, spec.toInt)
    val cores = nWorkers * coresPerWorker
    val corpusDir = args(1)
    val idxDir = args(2)
    val withLatency = args.length > 3 && args(3) == "latency"

    // Input split sizing: the synthetic corpus is ~200 MB, and default
    // 128 MB splits + 4 MB open-cost coalesce it into ~3 scan tasks —
    // the CPU-bound tokenize stage then can't use the cores at all
    // (observed: 29/32 executor threads parked). At real corpus scale
    // the default is right; for the bench corpus, size splits so the
    // scan yields >= 2 tasks per core.
    val builder = SparkSession.builder()
      .master(if (lc) s"local-cluster[$nWorkers,$coresPerWorker,6144]"
              else s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.files.maxPartitionBytes", s"${4 * 1024 * 1024}")
      .config("spark.sql.files.openCostInBytes", s"${256 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (lc) builder
      .config("spark.executor.memory", "6g")
      // experiment knob only — A/B'd 2026-08-19 and left at Spark's
      // default: locality.wait=0 and finer/coarser query partitioning
      // both moved single-shot QPS readings by less than this box's
      // run-to-run spread (4x2 readings 2 703-4 385 q/s across
      // identical configs), so no protocol change is defensible from
      // that evidence
      .config("spark.locality.wait",
        sys.env.getOrElse("GRAFT_LOCALITY_WAIT", "3s"))
      // forked executor JVMs get Spark's jars from SPARK_HOME but not
      // the application classes — ship the driver's full classpath
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      // same fixed pre-touched heap discipline as the driver forks
      .config("spark.executor.extraJavaOptions", "-Xms6g -XX:+AlwaysPreTouch")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docsDf = spark.read.parquet(corpusDir)
    val nDocs = docsDf.count()
    // 4 waves per core: hash-partition imbalance otherwise leaves the
    // last wave straggling on the largest partition
    val cfg = Build.Config(numPartitions = cores * 4, nSalts = 8,
      saltDfThreshold = nDocs / 2,
      // the at-scale config: heavy-term detection over a 2% sample
      heavySampleFraction = sys.env.getOrElse("GRAFT_HEAVY_SAMPLE", "0.02").toDouble,
      tokenizer = Tokenizer.default,
      // A/B hook for costing the spell-artifact phase
      spellIndex = sys.env.getOrElse("GRAFT_SPELL_ARTIFACT", "on") != "off")
    // JIT/classload warmup on a small slice (untimed) so the timed run
    // measures steady-state throughput, not cold-JVM compilation
    val warmDir = java.nio.file.Files
      .createTempDirectory("graft-bench-warm").toString
    // shuffle-payload meter: bytes on the wire, not just wall-clock (on
    // one box the shuffle is RAM-local and free; on a cluster it is the
    // network bottleneck)
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        shuffleBytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })
    Build.run(spark, docsDf.filter(s"doc_id < ${math.min(nDocs, 1000L)}"),
      warmDir, cfg)
    // deterministic drain of the async listener bus: a fixed sleep could
    // attribute warmup stages to the timed window on a loaded box
    org.apache.spark.graftshim.CoreShim
      .waitListenerBusEmpty(spark.sparkContext, 30000)
    val sb0 = shuffleBytes.get()
    val st0 = readProcStat()
    val t0 = System.nanoTime()
    Build.run(spark, docsDf, idxDir, cfg)
    val sec = (System.nanoTime() - t0) / 1e9
    val st1 = readProcStat()
    org.apache.spark.graftshim.CoreShim
      .waitListenerBusEmpty(spark.sparkContext, 30000)
    println(f"BENCH_BUILD_SECONDS=$sec%.3f")
    println(s"BENCH_BUILD_DOCS=$nDocs")
    println(f"BENCH_SHUFFLE_MB=${(shuffleBytes.get() - sb0) / 1e6}%.1f")
    // hypervisor steal across the timed window: this box is a shared-host
    // VM and steal bursts are the main run-to-run noise source; emitting
    // it per measurement lets any one scaling number carry its own
    // evidence of whether it was taken in a clean window
    for ((a, b) <- st0.zip(st1); if b._2 > a._2)
      println(f"BENCH_STEAL_PCT=${100.0 * (b._1 - a._1) / (b._2 - a._2)}%.2f")

    // distributed batch-query throughput at this core count: the
    // serving-side scaling number (build throughput above is the
    // ingest-side one). WAND over byte-addressed segment reads is
    // compute-bound and queries are embarrassingly parallel, so this
    // is expected to scale with cores where the build cannot.
    {
      import spark.implicits._
      // 40k queries (2000 distinct x20): big enough that WAND compute
      // dominates the fixed per-job scheduling cost even at 32 cores
      // (sub-ms queries x 2000 would measure the scheduler, not the
      // engine); identical batch at every level so ratios are exact
      val distinctQ = mixedQueries(2000, seed = 7, coldBase = 10, coldStep = 31, nCold = 60)
      val nq = distinctQ.length * 20
      val qdf = (0 until nq).map(i => (i, distinctQ(i % distinctQ.length)))
        .toDF("query_num", "query")
        .repartition(cores * sys.env.getOrElse("GRAFT_QPARTS_PER_CORE", "2").toInt)
        .cache()
      qdf.count()
      // warm on a small prefix: broadcast + codegen untimed. Warmup is
      // per-JVM state, so in local-cluster mode it scales with the
      // worker count — a fixed 500 would give each of 4 executors a
      // quarter of the JIT warmup the single-executor rung gets,
      // biasing the scaling ratio against the bigger cluster
      graft.query.DistributedRunner.run(spark, idxDir,
        qdf.limit(500 * (if (lc) nWorkers else 1)), k = 250).count()
      val q0 = System.nanoTime()
      graft.query.DistributedRunner.run(spark, idxDir, qdf, k = 250).count()
      val qSec = (System.nanoTime() - q0) / 1e9
      println(f"BENCH_DIST_QPS=${nq / qSec}%.1f")
      // A/B for the executor-local SegmentCache (round-3 review #8):
      // identical batch, cache disabled — at EVERY ladder level, because
      // the serving-scaling RATIO needs a protocol where the FS-read
      // fraction is constant across rungs: the cache removes the most
      // serial work at the lowest rung (its hot set is re-read the most
      // times per core there), which deflates the cache-on 2→8 ratio
      // even while absolute QPS rises at every rung. Cache-hit counts
      // ride along so a null QPS delta on this box (everything is one
      // warm page cache locally) still shows the FS-read fraction a
      // real cluster would save.
      if (withLatency && !lc) {
        println(s"BENCH_SEGCACHE_HITS=${graft.index.SegmentCache.hits.get()}")
        println(s"BENCH_SEGCACHE_MISSES=${graft.index.SegmentCache.misses.get()}")
      }
      // cache-off A/B only in single-JVM mode: the toggle mutates the
      // driver's SegmentCache object, which in local-cluster mode is a
      // DIFFERENT instance from each executor's — flipping it there
      // would silently measure cache-on twice and label one "nocache"
      if (!lc) {
        // save/restore the live capacity rather than re-deriving it from
        // the system property (a second copy of SegmentCache's init logic
        // would clobber a programmatically-set capacity and drift if the
        // default ever changes)
        val savedCap = graft.index.SegmentCache.capacityBytes
        graft.index.SegmentCache.capacityBytes = 0L
        graft.index.SegmentCache.clear()
        val c0 = System.nanoTime()
        graft.query.DistributedRunner.run(spark, idxDir, qdf, k = 250).count()
        val cSec = (System.nanoTime() - c0) / 1e9
        println(f"BENCH_DIST_QPS_NOCACHE=${nq / cSec}%.1f")
        graft.index.SegmentCache.capacityBytes = savedCap
      }
      qdf.unpersist()
    }

    if (withLatency) {
      val eng = new Engine(spark, idxDir, preload = true)
      val cold = (0 until 40).map(i => graft.corpus.Synth.coldTerm(30 + i * 37))
      val queries = mixedQueries(25, seed = 42, coldBase = 30, coldStep = 37, nCold = 40) :+
        // 10-term adversarial query: stresses the WAND cursor loop
        (HotTerms ++ cold.take(4)).mkString(" ") :++
        // misspelled queries: default-on spell correction is part of the
        // per-query cost like the reference's (searcher.py:44) — the
        // engine's delete-variant index makes these ~memo lookups
        Seq("improt licnese", "retrun", "apach the")
      queries.foreach(q => eng.searchWand(q, 250)) // warm
      val lat = (1 to 8).flatMap(_ => queries.map { q =>
        val q0 = System.nanoTime()
        eng.searchWand(q, 250)
        (System.nanoTime() - q0) / 1e6
      }).sorted
      eng.close()
      println(f"BENCH_P50_MS=${lat(lat.size / 2)}%.3f")
      println(f"BENCH_P95_MS=${lat((lat.size * 95) / 100)}%.3f")
    }
    spark.stop()
  }

  private val HotTerms =
    Seq("the", "if", "return", "import", "license", "apache")

  /** The shared hot/cold query-mix generator behind BOTH the latency
    * sample and the distributed-QPS batch — one distribution, two
    * measurements (parameter drift between two copies would silently
    * make the side-by-side BASELINE numbers measure different
    * workloads). */
  private def mixedQueries(n: Int, seed: Long, coldBase: Int,
                           coldStep: Int, nCold: Int): Seq[String] = {
    val r = new scala.util.Random(seed)
    val cold = (0 until nCold).map(i =>
      graft.corpus.Synth.coldTerm(coldBase + i * coldStep))
    (0 until n).map { _ =>
      val t = 1 + r.nextInt(4)
      Seq.fill(t)(if (r.nextBoolean()) HotTerms(r.nextInt(HotTerms.size))
                  else cold(r.nextInt(cold.size))).mkString(" ")
    }
  }

  /** (steal, total) jiffies from /proc/stat's aggregate cpu line; None
    * where the file is unavailable (non-Linux). */
  private def readProcStat(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        src.getLines().find(_.startsWith("cpu ")).map { l =>
          val f = l.trim.split("\\s+").drop(1).map(_.toLong)
          (if (f.length > 7) f(7) else 0L, f.sum)
        }
      } finally src.close()
    } catch { case _: Throwable => None }
}
