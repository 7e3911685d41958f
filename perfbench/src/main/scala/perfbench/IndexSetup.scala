package perfbench

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.{col, length, sum}
import graft.corpus.Ingest
import graft.index.Build

/** The corpus snapshot and the index built over it, the way
  * `Cli build --positions` builds one: `Build.run`, then
  * `Build.buildPosStore`. */
object IndexSetup {

  final case class Built(corpusDir: String, indexDir: String, nDocs: Long,
                         postings: Long, posPostings: Long)

  /** The build configuration every workload uses: two partitions per core
    * and a salting threshold that salts the corpus's head terms. */
  def config(env: Env, docs: Int): Build.Config =
    Build.Config(numPartitions = 2 * env.nproc, nSalts = 8,
      saltDfThreshold = math.max(2L, docs / 2L))

  /** Write the first `docs` documents of the seed's window as a parquet
    * snapshot. */
  def writeCorpus(env: Env, dir: String, docs: Int): Unit =
    env.sparkLayer("corpus.Synth.write") {
      Inputs.docs(env.spark, Inputs.windowStart(env.seed), docs, 2 * env.nproc)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/snapshot-0")
    }

  /** Scan the snapshot through `Ingest.read`; returns its content bytes. */
  def readCorpus(env: Env, dir: String): Long =
    env.sparkLayer("corpus.Ingest.read") {
      Ingest.read(env.spark, s"$dir/snapshot-0")
        .agg(sum(length(col("content")))).head().getLong(0)
    }

  /** One full build. Untraced runs call `Build.run`; traced runs make the
    * same calls `Build.run` makes with the default parquet staging, one
    * public function at a time, so each gets its own span and job group. */
  def build(env: Env, corpusDir: String, indexDir: String, nDocs: Int): Built = {
    val spark = env.spark
    val cfg = config(env, nDocs)
    val docs = Ingest.read(spark, s"$corpusDir/snapshot-0")
    val res =
      if (!env.traced) Build.run(spark, docs, indexDir, cfg)
      else {
        val acc = spark.sparkContext.longAccumulator("shaViolations")
        val staging = s"$indexDir/staging_postings"
        env.sparkLayer("index.Build.tokenize_stage") {
          Build.postingsVerified(spark, Ingest.withDocId(docs), cfg.tokenizer, Some(acc))
            .write.mode(SaveMode.Overwrite)
            .option("compression", cfg.stagingCodec).parquet(staging)
        }
        require(acc.value == 0, s"${acc.value} rows fail the sha256 invariant")
        val r = env.sparkLayer("index.Build.post_tokenize") {
          Build.runFromPostings(spark, spark.read.parquet(staging), indexDir, cfg)
        }
        // runFromPostings builds the spell artifact in an overlapped
        // future; rebuilding it alone (same bytes) gives its own time
        env.sparkLayer("index.Build.spell_artifact") {
          Build.trySpellArtifact(spark, indexDir)
        }
        r
      }
    val pos = env.sparkLayer("index.Build.pos_store") {
      Build.buildPosStore(spark, docs, indexDir, cfg)
    }
    Built(corpusDir, indexDir, res.nDocs, res.totalPostings, pos)
  }

  /** Bytes under `dir`, recursively. */
  def bytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  def delete(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally s.close()
    }
  }

  /** Per-layer build metrics: byte counts of the last index, and the
    * medians of the traced phases and the per-build stage roll-ups of the
    * builds since `env.buildsFrom`. */
  def layerMetrics(env: Env, last: Built): Unit = {
    val L = env.layers
    val mb = 1024.0 * 1024.0
    val (fromNs, fromMs) = env.buildsFrom
    val nBuilds = env.tracer.durations("index.Build.post_tokenize", fromNs).length
    def sec(name: String, since: Long = fromNs): Metric = {
      val d = env.tracer.durations(name, since).map(_ / 1e9)
      Metric(if (d.isEmpty) 0.0 else Stats.median(d), "s", d.length)
    }
    // the corpus is read in set-up, before any build
    L("corpus.Ingest.read_s") = sec("corpus.Ingest.read", Long.MinValue)
    L("index.Build.tokenize_stage_s") = sec("index.Build.tokenize_stage")
    L("index.Build.post_tokenize_s") = sec("index.Build.post_tokenize")
    L("index.Build.pos_store_s") = sec("index.Build.pos_store")
    L("index.Build.spell_artifact_s") = sec("index.Build.spell_artifact")

    val groups = env.rollup.map(_.rollup(fromMs)).getOrElse(Map.empty)
    val phases = Seq("index.Build.tokenize_stage", "index.Build.post_tokenize",
      "index.Build.pos_store")
    val accs = phases.flatMap(groups.get)
    val n = math.max(1, nBuilds).toDouble
    def per(f: StageRollup#Acc => Long) = accs.map(f).sum / n
    L("index.Build.shuffle_write_mb") = Metric(per(_.shuffleWriteBytes) / mb, "MB", nBuilds)
    L("index.Build.shuffle_records") = Metric(per(_.shuffleRecords), "count", nBuilds)
    L("index.Build.spill_mb") = Metric(per(_.spillBytes) / mb, "MB", nBuilds)
    L("index.Build.gc_s") = Metric(per(_.gcMs) / 1e3, "s", nBuilds)
    L("index.Build.executor_cpu_s") = Metric(per(_.cpuNs) / 1e9, "s", nBuilds)
    L("index.Build.task_skew") = Metric(
      StageRollup.skew(groups.get("index.Build.post_tokenize").toSeq), "ratio", nBuilds)

    val idx = last.indexDir
    val seg = bytes(s"$idx/segments")
    val pos = bytes(s"$idx/pos")
    L("index.SegmentStore.bytes_per_posting") =
      Metric(seg.toDouble / math.max(1L, last.postings), "B", last.postings)
    L("index.PosStore.bytes_per_posting") =
      Metric(pos.toDouble / math.max(1L, last.posPostings), "B", last.posPostings)
    L("index.bytes.staging_mb") = Metric(bytes(s"$idx/staging_postings") / mb, "MB", 1)
    L("index.bytes.segments_mb") = Metric(seg / mb, "MB", 1)
    L("index.bytes.pos_mb") = Metric(pos / mb, "MB", 1)
    L("index.bytes.spell_mb") = Metric(bytes(s"$idx/spell") / mb, "MB", 1)
  }

  /** Single-thread tokenizer kernel over the first documents of the
    * corpus window, no Spark: docs per second. */
  def tokenizerKernel(env: Env): Metric = {
    val start = Inputs.windowStart(env.seed)
    val texts = (0 until math.min(env.nDocs, 200)).map(i => graft.corpus.Synth.content(start + i))
    texts.foreach(t => graft.analysis.Tokenizer.tokenize(t))
    val t0 = System.nanoTime()
    var reps = 0
    while (reps < 3 || System.nanoTime() - t0 < 500000000L) {
      env.layer("analysis.Tokenizer.tokenize") {
        texts.foreach(t => graft.analysis.Tokenizer.tokenize(t))
      }
      reps += 1
    }
    Metric(texts.length * reps / ((System.nanoTime() - t0) / 1e9), "1/s", texts.length * reps)
  }
}
