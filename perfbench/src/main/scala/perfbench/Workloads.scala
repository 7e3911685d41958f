package perfbench

import scala.collection.mutable
import graft.index.SegmentCache
import graft.query.Engine

/** The measured workloads. Each engine workload sets up several times
  * (the median is `setup_s`), runs its closed loop for the requested
  * seconds, then runs the shared probe that checks answers and, when
  * traced, fills in the per-layer metrics of layers its loop does not
  * reach. `operators` is one pass over the operator queries. */
object Workloads {

  val SetupReps = 5
  /** Length of one `serve-zipf` measurement window. */
  val WindowNs = 500000000L
  /** Builds before the measured ones, over a `WarmupDocs` snapshot of the
    * same window: the JIT keeps compiling the build's paths through the
    * third build of a cold JVM (measured on 4 cores at 500 docs: 19 s,
    * 8.5 s, 6.1 s, then 5.4-6.0 s), and that is mostly per-job work that a
    * small snapshot warms as well as a large one. A third warm-up left the
    * spread of the measured builds where it was and cost 5 s a run. */
  val WarmupBuilds = 2
  val WarmupDocs = 500
  /** Measured builds at least, whatever `--seconds` says: at `BuildDocs`
    * a build takes ~11 s on 4 cores, and a run must stay near a minute. */
  val MinBuilds = 2
  /** SegmentCache capacity over segment bytes for `serve-batch`: the ratio
    * of the default 64 MiB cache to the 136 MB of segments at 60k docs,
    * so the batch's records overflow the cache as they do at that size. */
  val BatchCacheRatio = 64.0 / 136.0

  val names: Seq[String] = Seq("build", "serve-zipf", "serve-batch", "operators")

  private def now(): Long = System.nanoTime()
  private def ms(ns: Long): Double = ns / 1e6

  /** Corpus size per workload (documents). The build measures a corpus
    * large enough that the per-document work, not per-job overhead, is
    * most of a build; serving gets a corpus where the head terms' posting
    * lists span several blocks. */
  def docsFor(workload: String): Int = workload match {
    case "build" => BuildDocs
    case _ => 1000
  }
  val BuildDocs = 3000

  /** What a workload hands back for the end-to-end metrics: latencies of
    * its unit operation, and items done per item-second. */
  final case class Loop(opMs: Seq[Double], items: Double, itemSeconds: Double,
                        opName: String, itemName: String,
                        windows: Seq[Seq[Double]] = Nil)

  def run(env: Env, workload: String): Unit = workload match {
    case "build" => build(env)
    case "serve-zipf" => serve(env, zipf = true)
    case "serve-batch" => serve(env, zipf = false)
    case "operators" => operators(env)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  // ---- build ---------------------------------------------------------------

  private def build(env: Env): Unit = {
    val corpus = env.dir("corpus")
    IndexSetup.writeCorpus(env, corpus, env.nDocs)
    var contentBytes = 0L
    val setups = (0 until SetupReps).map { _ =>
      val t0 = now()
      contentBytes = IndexSetup.readCorpus(env, corpus)
      (now() - t0) / 1e9
    }
    // the first build runs in a cold JVM, as every `Cli build` does, and
    // the JIT is still compiling the build's paths through the third: the
    // warm-up builds are reported only as facts
    val warmDocs = math.min(WarmupDocs, env.nDocs)
    val warmCorpus = env.dir("warmup-corpus")
    IndexSetup.writeCorpus(env, warmCorpus, warmDocs)
    val warmMs = (0 until WarmupBuilds).map { i =>
      val t0 = now()
      val b = IndexSetup.build(env, warmCorpus, env.dir(s"warmup-$i"), warmDocs)
      IndexSetup.delete(b.indexDir)
      ms(now() - t0)
    }
    env.facts("warmup_build_ms") = warmMs.map(x => f"$x%.1f").mkString(" ")
    env.buildsFrom = (now(), System.currentTimeMillis())
    val deadline = now() + (env.seconds * 1e9).toLong
    val opMs = mutable.ArrayBuffer.empty[Double]
    var last: IndexSetup.Built = null
    var i = 0
    while (i < MinBuilds || now() < deadline) {
      if (last != null) IndexSetup.delete(last.indexDir)
      val idx = env.dir(s"build-$i")
      val t0 = now()
      env.op(s"build $i")(IndexSetup.build(env, corpus, idx, env.nDocs)).foreach(b => last = b)
      opMs += ms(now() - t0)
      i += 1
    }
    require(last != null, "no build succeeded")
    val indexBytes = IndexSetup.bytes(last.indexDir)
    val engine = new Engine(env.spark, last.indexDir, preload = true, eagerSpell = true)
    try finish(env, setups, last, engine, contentBytes, indexBytes,
      Loop(opMs.toSeq, env.nDocs, Stats.median(opMs.toSeq) / 1e3, "build", "docs"),
      cacheFrom = None, distributed = env.traced)
    finally engine.close()
  }

  // ---- serving ---------------------------------------------------------------

  /** The serving workloads build their index once (a build is the `build`
    * workload's measured operation); their set-up is the serving engine's
    * load: dictionary and stats preload and the eager spell index. */
  private def serve(env: Env, zipf: Boolean): Unit = {
    val corpus = env.dir("corpus")
    IndexSetup.writeCorpus(env, corpus, env.nDocs)
    val contentBytes = IndexSetup.readCorpus(env, corpus)
    val built = IndexSetup.build(env, corpus, env.dir("index"), env.nDocs)
    val indexBytes = IndexSetup.bytes(built.indexDir)
    var engine: Engine = null
    val setups = (0 until SetupReps).map { _ =>
      if (engine != null) engine.close()
      val t0 = now()
      engine = env.sparkLayer("query.Engine.load") {
        new Engine(env.spark, built.indexDir, preload = true, eagerSpell = true)
      }
      (now() - t0) / 1e9
    }
    val vocab = Serve.vocabulary(env, built.indexDir)
    try {
      val h0 = SegmentCache.hits.get
      val m0 = SegmentCache.misses.get
      val acc = new Serve.ZipfAcc
      val loop =
        if (zipf) zipfLoop(env, engine, built.indexDir, vocab, acc)
        else batchLoop(env, built, vocab)
      val cache = (SegmentCache.hits.get - h0, SegmentCache.misses.get - m0)
      // the runner's driver-equivalence check runs where the runner is
      // measured: in serve-batch, and in every traced run
      finish(env, setups, built, engine, contentBytes, indexBytes, loop, Some(cache),
        distributed = env.traced || !zipf, acc)
    } finally engine.close()
  }

  /** One client, closed loop: the next query goes out when the last one
    * returns. Warm-up first, so the hot set is resident in SegmentCache. */
  private def zipfLoop(env: Env, engine: Engine, indexDir: String,
                       vocab: Array[(String, Long)], acc: Serve.ZipfAcc): Loop = {
    val qs = new Inputs.ZipfQueries(Serve.queryable(vocab).map(_._1), env.seed, 0.03)
    val vocabSet = vocab.iterator.map(_._1).toSet
    val spell = if (env.traced) graft.query.SpellStore.load(s"$indexDir/spell") else None
    // the JIT is still compiling the query path 3 s in (the first measured
    // windows ran up to 2x slower than the last); 6 s settles it
    val warm = now() + 6000000000L
    while (now() < warm) engine.searchWand(qs.next(), Serve.K)
    // half-second windows: the metrics come from the least-disturbed
    // window (see `finish`)
    val windows = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Double]]
    val t0 = now()
    val nWindows = math.max(1, math.round(env.seconds * 1e9 / WindowNs).toInt)
    var i = 0L
    (1 to nWindows).foreach { w =>
      val lat = mutable.ArrayBuffer.empty[Double]
      val end = t0 + w * WindowNs
      while (now() < end) {
        val q = qs.next()
        val s = now()
        env.op("zipf query")(Serve.zipfQuery(env, engine, q, i, spell, vocabSet, acc))
        lat += ms(now() - s)
        i += 1
      }
      windows += lat
    }
    env.facts("window_p50_ms") = windows.map(w => f"${Stats.median(w.toSeq)}%.4f").mkString(" ")
    env.facts("typos") = qs.typos.toString
    val all = windows.flatten.toSeq
    Loop(all, all.length, (now() - t0) / 1e9, "query", "queries", windows.map(_.toSeq).toSeq)
  }

  /** Closed loop of batch rounds, one job at a time: a conjunctive job and
    * a phrase job of 64 fresh queries each. SegmentCache is sized below the
    * records the batches touch. */
  private def batchLoop(env: Env, built: IndexSetup.Built,
                        vocab: Array[(String, Long)]): Loop = {
    val band = Serve.andBand(env, vocab)
    val start = Inputs.windowStart(env.seed)
    val oldCap = SegmentCache.capacityBytes
    SegmentCache.capacityBytes =
      (IndexSetup.bytes(s"${built.indexDir}/segments") * BatchCacheRatio).toLong
    SegmentCache.clear()
    val batch = 64
    val rounds = mutable.ArrayBuffer.empty[Double]
    val andS = mutable.ArrayBuffer.empty[Double]
    val phS = mutable.ArrayBuffer.empty[Double]
    try {
      // one untimed round warms the job path
      Serve.andJob(env, built.indexDir, Inputs.andQueries(band, env.seed, 0xA0000, batch))
      Serve.phraseJob(env, built.indexDir, Inputs.phrases(start, env.nDocs, env.seed, 0xB0000, batch))
      val deadline = now() + (env.seconds * 1e9).toLong
      var i = 0
      while (i < 3 || now() < deadline) {
        val ands = Inputs.andQueries(band, env.seed, 0xA0001 + i, batch)
        val phs = Inputs.phrases(start, env.nDocs, env.seed, 0xB0001 + i, batch)
        val a0 = now()
        env.op(s"and job $i")(Serve.andJob(env, built.indexDir, ands))
        val a1 = now()
        env.op(s"phrase job $i")(Serve.phraseJob(env, built.indexDir, phs))
        val p1 = now()
        andS += (a1 - a0) / 1e9
        phS += (p1 - a1) / 1e9
        rounds += ms(p1 - a0)
        i += 1
      }
    } finally {
      SegmentCache.capacityBytes = oldCap
      SegmentCache.clear()
    }
    env.facts("and_qps") = (batch * andS.length / andS.sum).toString
    env.facts("phrase_qps") = (batch * phS.length / phS.sum).toString
    Loop(rounds.toSeq, 2.0 * batch * rounds.length, rounds.sum / 1e3, "round", "queries")
  }

  // ---- golden digests --------------------------------------------------------------

  /** Record the probe digest of each seed at `docs` into the golden file, in
    * one JVM: corpus, build, engine and probe per seed, nothing measured. */
  def recordGolden(spark: org.apache.spark.sql.SparkSession, work: java.nio.file.Path,
                   nproc: Int, docs: Int, seeds: Seq[Long]): Unit = seeds.foreach { seed =>
    val env = new Env(spark, work, seed, 0, false, nproc, docs)
    val corpus = env.dir(s"golden-corpus-$seed")
    IndexSetup.writeCorpus(env, corpus, docs)
    val built = IndexSetup.build(env, corpus, env.dir(s"golden-index-$seed"), docs)
    val engine = new Engine(spark, built.indexDir, preload = true, eagerSpell = true)
    try {
      val digest = Serve.probe(env, built, engine, Serve.vocabulary(env, built.indexDir),
        new Serve.ZipfAcc, distributed = false)
      require(env.failed == 0, s"seed $seed: ${env.failures.mkString("; ")}")
      Golden.check(env, digest, Golden.key(env))
      System.err.println(s"[perfbench] golden ${Golden.key(env)} = $digest")
    } finally {
      engine.close()
      IndexSetup.delete(corpus)
      IndexSetup.delete(built.indexDir)
    }
  }

  // ---- operators ---------------------------------------------------------------

  /** The operator pass on its own, by hand: set-up is the cold artifacts,
    * the unit operation one warm query. */
  private def operators(env: Env): Unit = {
    val p = Operators.pass(env)
    val opMs = p.warm.values.map(_ * 1e3).toSeq
    val (tailP, tailV) = Stats.tail(opMs)
    val E = env.e2e
    val R = env.reported
    E("setup_s") = Metric(p.artifacts.map(_._2).sum, "s", 1)
    R("op_p50_ms") = Metric(Stats.median(opMs), "ms", opMs.length)
    E("op_tail_ms") = Metric(tailV, "ms", opMs.length)
    R("throughput_per_s") = Metric(opMs.length / p.warmTotal, "1/s", opMs.length)
    val textBytes = Operators.textBytes(env)
    val indexBytes = IndexSetup.bytes(graft.operators.IndexOps.indexFor(env.spark, Operators.tables))
    E("index_bytes_per_input_byte") = Metric(indexBytes.toDouble / textBytes, "ratio", 1)
    env.facts("ops_total_s") = Json.num(p.warmTotal)
    env.facts("ops_geomean_s") = Json.num(Stats.geomean(p.warm.values.toSeq))
    env.facts("tail_percentile") = tailP.toString
    env.facts("op") = "query"
    env.facts("tables") = Operators.tables
    env.facts("content_bytes") = textBytes.toString
    if (env.traced) Operators.layerMetrics(env, p)
  }

  // ---- shared tail -------------------------------------------------------------

  private def finish(env: Env, setups: Seq[Double], built: IndexSetup.Built,
                     engine: Engine, contentBytes: Long, indexBytes: Long, loop: Loop,
                     cacheFrom: Option[(Long, Long)], distributed: Boolean,
                     acc0: Serve.ZipfAcc = null): Unit = {
    val acc = if (acc0 == null) new Serve.ZipfAcc else acc0
    val vocab = Serve.vocabulary(env, built.indexDir)
    val h0 = SegmentCache.hits.get
    val m0 = SegmentCache.misses.get
    val digest = Serve.probe(env, built, engine, vocab, acc, distributed)
    val cache = cacheFrom.getOrElse((SegmentCache.hits.get - h0, SegmentCache.misses.get - m0))
    Golden.check(env, digest, Golden.key(env))

    val E = env.e2e
    val R = env.reported
    E("setup_s") = Metric(Stats.median(setups), "s", setups.length)
    val n = loop.opMs.length
    if (loop.windows.isEmpty) {
      val (tailP, tailV) = Stats.tail(loop.opMs)
      R("op_p50_ms") = Metric(Stats.median(loop.opMs), "ms", n)
      E("op_tail_ms") = Metric(tailV, "ms", n)
      R("throughput_per_s") = Metric(loop.items / loop.itemSeconds, "1/s", loop.items.toLong)
      env.facts("tail_percentile") = tailP.toString
    } else {
      // contention from outside the JVM only ever adds time, and on a
      // shared box it comes in bursts of seconds that moved the median
      // window's latency by 20-30% between runs of the same seed: each
      // metric is the best of the windows, the one least disturbed
      val ws = loop.windows.filter(_.nonEmpty)
      val tails = ws.map(w => Stats.tail(w))
      R("op_p50_ms") = Metric(ws.map(Stats.median).min, "ms", n)
      E("op_tail_ms") = Metric(tails.map(_._2).min, "ms", n)
      R("throughput_per_s") = Metric(ws.map(_.length * 1e9 / WindowNs).max, "1/s", n)
      env.facts("windows") = ws.length.toString
      env.facts("tail_percentile") = tails.map(_._1).min.toString
      env.facts("window_tail_ms") = tails.map(t => f"${t._2}%.4f").mkString(" ")
    }
    E("index_bytes_per_input_byte") =
      Metric(indexBytes.toDouble / contentBytes, "ratio", 1)
    if (loop.opMs.length <= 64)
      env.facts("op_ms") = loop.opMs.map(x => f"$x%.1f").mkString(" ")
    env.facts("op") = loop.opName
    env.facts("item") = loop.itemName
    env.facts("content_bytes") = contentBytes.toString
    env.facts("index_bytes") = indexBytes.toString
    env.facts("docs") = env.nDocs.toString
    env.facts("postings") = built.postings.toString

    if (env.traced) {
      IndexSetup.layerMetrics(env, built)
      env.layers("analysis.Tokenizer.doc_kernel_docs_per_s") = IndexSetup.tokenizerKernel(env)
      Serve.layerMetrics(env, acc, cache._1, cache._2)
    }
  }
}
