package perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import graft.analysis.Tokenizer
import graft.index.{Codec, SegmentCache, SegmentReader}
import graft.query.{DistributedRunner, Engine, PhraseCore, PhraseSearcher, Spell, SpellStore}

/** Calls into the serving layers, traced or not, and the checks on their
  * answers. */
object Serve {

  val K = 250

  /** The index's vocabulary, most frequent first (ties by term). */
  def vocabulary(env: Env, indexDir: String): Array[(String, Long)] = {
    import env.spark.implicits._
    env.spark.read.parquet(s"$indexDir/term_stats").select($"term", $"df")
      .as[(String, Long)].collect().sortBy { case (t, df) => (-df, t) }
  }

  /** Vocabulary terms the query tokenizer maps to themselves (a stemmed
    * index term need not be a fixed point of the stemmer), so a query of
    * them resolves exactly and only deliberate typos reach the speller. */
  def queryable(vocab: Array[(String, Long)]): Array[(String, Long)] =
    vocab.filter { case (t, _) => Tokenizer.tokenizeQuery(t) == Map(t -> 1) }

  /** Queryable terms whose df is in the conjunctive band: df >= 1000 at
    * 60k docs, scaled to the corpus. */
  def andBand(env: Env, vocab: Array[(String, Long)]): Array[String] = {
    val minDf = math.max(10L, env.nDocs / 60L)
    queryable(vocab).collect { case (t, df) if df >= minDf => t }
  }

  /** Serving counters gathered from traced queries. */
  final class ZipfAcc {
    var queries = 0L
    var rewritten = 0L
    var blocks = 0L
    var blockBytes = 0L
    var postings = 0L
    var results = 0L
    var decodeNs = 0L
    val wandSelfNs = mutable.ArrayBuffer.empty[Double]
  }

  /** One disjunctive top-K query. Traced runs split it into its layer
    * calls: parse, spell (for terms the dictionary lacks), dictionary
    * lookup, a full decode of the fetched blocks (the ceiling WAND skips
    * under), and WAND itself. */
  def zipfQuery(env: Env, engine: Engine, q: String, req: Long,
                spell: Option[Spell.DeleteIndex], vocab: collection.Set[String],
                acc: ZipfAcc): Array[(Long, Double)] =
    if (!env.traced) engine.searchWand(q, K)
    else env.layer("query", req) {
      val terms = env.layer("analysis.Tokenizer.tokenizeQuery")(Tokenizer.tokenizeQuery(q))
      var rewritten = false
      terms.keys.filterNot(vocab).foreach { t =>
        spell.foreach { ix =>
          if (env.layer("query.Spell.correct")(ix.correct(t)) != t) rewritten = true
        }
      }
      // the first lookup pays spell memo and cache misses; WAND's own
      // lookup then runs warm, so WAND self time subtracts a warm lookup
      val tps = env.layer("query.Engine.lookup")(engine.lookup(terms))
      val d0 = System.nanoTime()
      val decoded = env.layer("index.Codec.decode")(tps.map(tp => Codec.decode(tp.blocks.toSeq).length).sum)
      acc.decodeNs += System.nanoTime() - d0
      val w0 = System.nanoTime()
      val hits = env.layer("query.EngineCore.searchWandQuery")(engine.searchWandQuery(terms, K))
      val w1 = System.nanoTime()
      env.layer("query.Engine.lookup.warm")(engine.lookup(terms))
      acc.wandSelfNs += ((w1 - w0) - (System.nanoTime() - w1)).toDouble
      acc.queries += 1
      if (rewritten) acc.rewritten += 1
      acc.blocks += tps.map(_.blocks.length).sum
      acc.blockBytes += tps.map(_.blocks.map(_.bytes.length.toLong).sum).sum
      acc.postings += decoded
      acc.results += hits.length
      hits
    }

  def queryFrame(env: Env, queries: Seq[String]): DataFrame = {
    import env.spark.implicits._
    env.spark.sparkContext
      .parallelize(queries.zipWithIndex.map { case (q, i) => (i, q) }, env.nproc)
      .toDF("query_num", "query")
  }

  private def ranked(df: DataFrame, n: Int): Array[Seq[(Long, Double)]] = {
    val byQuery = df.collect().groupBy(_.getInt(0))
    Array.tabulate(n) { i =>
      byQuery.getOrElse(i, Array.empty).sortBy(_.getInt(2)).toSeq
        .map(r => (r.getLong(1), r.getDouble(3)))
    }
  }

  /** One conjunctive batch job through the distributed runner. */
  def andJob(env: Env, indexDir: String, queries: Seq[String]): Array[Seq[(Long, Double)]] =
    env.sparkLayer("query.DistributedRunner.and_job") {
      ranked(DistributedRunner.run(env.spark, indexDir, queryFrame(env, queries), K,
        mode = "and"), queries.length)
    }

  /** One phrase batch job through the distributed runner. */
  def phraseJob(env: Env, indexDir: String, queries: Seq[String]): Array[Seq[(Long, Double)]] =
    env.sparkLayer("query.DistributedRunner.phrase_job") {
      ranked(DistributedRunner.runPhrase(env.spark, indexDir, queryFrame(env, queries), K),
        queries.length)
    }

  /** Brute-force answers from the corpus text, independent of the index:
    * for each AND query the docs holding every term, and for each phrase
    * every (doc, occurrences, first position). */
  def oracle(env: Env, corpusDir: String, andTerms: Seq[Set[String]],
             phraseTerms: Seq[Seq[String]])
      : (Array[Set[Long]], Array[Seq[(Long, Long, Long)]]) = {
    import env.spark.implicits._
    val ands = andTerms.toArray
    val phs = phraseTerms.map(_.toArray).toArray
    val rows = env.spark.read.parquet(s"$corpusDir/snapshot-0")
      .select($"doc_id", $"content").as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val set = Tokenizer.tokenize(text).terms.keySet
          val seq = Tokenizer.tokenizeSeq(text).toArray
          val a = ands.indices.iterator.filter(i => ands(i).subsetOf(set))
            .map(i => (0, i, id, 0L, 0L))
          val p = phs.indices.iterator.flatMap { i =>
            val ph = phs(i)
            var n = 0L
            var first = -1L
            var s = 0
            while (ph.nonEmpty && s + ph.length <= seq.length) {
              var j = 0
              while (j < ph.length && seq(s + j) == ph(j)) j += 1
              if (j == ph.length) { n += 1; if (first < 0) first = s }
              s += 1
            }
            if (n > 0) Iterator((1, i, id, n, first)) else Iterator.empty
          }
          (a ++ p).toSeq
        }
      }.collect()
    val andOut = Array.tabulate(ands.length)(i =>
      rows.collect { case (0, `i`, id, _, _) => id }.toSet)
    val phOut = Array.tabulate(phs.length)(i =>
      rows.collect { case (1, `i`, id, n, f) => (id, n, f) }.sortBy(_._1).toSeq)
    (andOut, phOut)
  }

  /** The fixed probe every workload runs after its measured loop: Zipf
    * WAND queries checked against exhaustive scoring, conjunctive queries
    * and phrases checked against the brute-force oracle and, when
    * `distributed`, the distributed runner checked against the driver.
    * Returns the digest of all answers, which depends only on the seed and
    * the corpus size. Traced runs also take the per-layer serving metrics
    * no measured loop covers. */
  def probe(env: Env, built: IndexSetup.Built, engine: Engine,
            vocab: Array[(String, Long)], acc: ZipfAcc, distributed: Boolean): String = {
    val idx = built.indexDir
    val lines = mutable.ArrayBuffer.empty[String]
    val vocabSet = vocab.iterator.map(_._1).toSet
    val spell = if (env.traced) SpellStore.load(s"$idx/spell") else None

    // -- Zipf WAND vs exhaustive ------------------------------------------
    val zq = new Inputs.ZipfQueries(queryable(vocab).map(_._1), env.seed ^ 0x9120beL, 0.05)
    var wandNs = 0L
    var exhNs = 0L
    (0 until 64).foreach { i =>
      val q = zq.next()
      env.op(s"probe wand '$q'") {
        val hits = zipfQuery(env, engine, q, 1000000L + i, spell, vocabSet, acc)
        val w0 = System.nanoTime()
        engine.searchWand(q, K)
        wandNs += System.nanoTime() - w0
        val e0 = System.nanoTime()
        val ex = env.layer("query.EngineCore.searchExhaustive")(engine.searchExhaustive(q, K))
        exhNs += System.nanoTime() - e0
        env.check(s"WAND != exhaustive for '$q'")(hits.toSeq == ex.toSeq)
        lines += s"W|$i|$q|" + hits.map { case (d, s) => s"$d:$s" }.mkString(",")
      }
    }

    // -- conjunctive and phrase: driver, distributed, oracle ---------------
    val band = andBand(env, vocab)
    val ands = Inputs.andQueries(band, env.seed, 0xA4D, 32)
    val phrases = Inputs.phrases(Inputs.windowStart(env.seed), env.nDocs, env.seed, 0xF4A, 32)
    val phraseTerms = phrases.map(p => Tokenizer.tokenizeSeq(p))
    val (andTruth, phraseTruth) = env.layer("oracle") {
      oracle(env, built.corpusDir, ands.map(_.split(' ').toSet), phraseTerms)
    }
    val andDist =
      if (distributed) env.op("probe and job")(andJob(env, idx, ands)) else None
    ands.zipWithIndex.foreach { case (q, i) =>
      env.op(s"probe and '$q'") {
        val hits = env.layer("query.EngineCore.searchConjunctive")(engine.searchConjunctive(q, K))
        val truth = andTruth(i)
        env.check(s"AND '$q' disagrees with the corpus") {
          hits.forall(h => truth(h._1)) && hits.length == math.min(K, truth.size) &&
            hits.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) >= w(1))
        }
        andDist.foreach(d => env.check(s"distributed AND '$q' != driver")(d(i) == hits.toSeq))
        lines += s"A|$i|$q|" + hits.map { case (d, s) => s"$d:$s" }.mkString(",")
      }
    }
    val searcher = new PhraseSearcher(env.spark, idx)
    try {
      env.layer("query.PhraseSearcher.preload")(searcher.preload(phrases))
      val phDist =
        if (distributed) env.op("probe phrase job")(phraseJob(env, idx, phrases)) else None
      phrases.zipWithIndex.foreach { case (p, i) =>
        env.op(s"probe phrase '$p'") {
          val all = env.layer("query.Phrase.search")(searcher.search(p)).toSeq
          env.check(s"phrase '$p' disagrees with the corpus")(all == phraseTruth(i))
          val top = all.sortBy { case (d, n, _) => (-n, d) }.take(K)
            .map { case (d, n, _) => (d, n.toDouble) }
          phDist.foreach(d => env.check(s"distributed phrase '$p' != driver")(d(i) == top))
          lines += s"P|$i|$p|" + all.map { case (d, n, f) => s"$d:$n:$f" }.mkString(",")
        }
      }
    } finally searcher.close()

    if (env.traced) probeLayers(env, idx, vocab, band, phrases, spell, wandNs, exhNs)
    val digest = Stats.digest(lines)
    env.facts("probe_answers") = lines.length.toString
    digest
  }

  /** Traced-only probes of single serving layers. */
  private def probeLayers(env: Env, idx: String, vocab: Array[(String, Long)],
                          band: Array[String], phrases: Seq[String],
                          spell: Option[Spell.DeleteIndex], wandNs: Long, exhNs: Long): Unit = {
    val L = env.layers
    val resolver = env.sparkLayer("query.Engine.loadResolver")(Engine.loadResolver(env.spark, idx))
    env.sparkLayer("query.PhraseCore.forBatch") {
      PhraseCore.forBatch(env.spark, idx, queryFrame(env, phrases), Tokenizer.default)
    }
    // misspelled vocabulary words, each a fresh edit
    val r = Inputs.rng(env.seed, 0x5BE11)
    val words = vocab.map(_._1).filter(w => w.length >= 5 && w.forall(_.isLetter))
    spell.foreach { ix =>
      (0 until 32).foreach { _ =>
        val w = Inputs.misspell(words(r.nextInt(words.length)), r)
        env.layer("query.Spell.correct")(ix.correct(w))
      }
    }
    // byte-addressed record reads, no cache
    val entries = resolver.dictEntries(band.take(64).toSeq)
    val reader = new SegmentReader(s"$idx/segments")
    val recNs = mutable.ArrayBuffer.empty[Double]
    val records = try entries.map { e =>
      val t0 = System.nanoTime()
      val rec = env.layer("index.SegmentReader.record")(reader.record(e))
      recNs += (System.nanoTime() - t0).toDouble
      rec._2
    } finally reader.close()
    // encode throughput over the same records' postings
    val postings = records.map(bs => Codec.decode(bs.toSeq))
    val e0 = System.nanoTime()
    val encBytes = env.layer("index.Codec.encode") {
      postings.map(ps => Codec.encode(ps, (tf, dl) => tf.toDouble / (tf + dl))
        .map(_.bytes.length.toLong).sum).sum
    }
    val encS = (System.nanoTime() - e0) / 1e9
    L("index.Codec.encode_mb_per_s") =
      Metric(encBytes / 1048576.0 / math.max(encS, 1e-9), "MB/s", postings.map(_.length.toLong).sum)
    L("index.SegmentReader.record_us") =
      Metric(if (recNs.isEmpty) 0.0 else Stats.median(recNs.toSeq) / 1e3, "us", recNs.length)
    L("query.EngineCore.wand_speedup") =
      Metric(exhNs.toDouble / math.max(1L, wandNs), "ratio", 64)
  }

  /** Per-layer serving metrics from the spans and counters of the run. */
  def layerMetrics(env: Env, acc: ZipfAcc, cacheHits: Long, cacheMisses: Long): Unit = {
    val L = env.layers
    def us(name: String): Metric = {
      val d = env.tracer.durations(name).map(_ / 1e3)
      Metric(if (d.isEmpty) 0.0 else Stats.median(d), "us", d.length)
    }
    def sec(name: String): Metric = {
      val d = env.tracer.durations(name).map(_ / 1e9)
      Metric(if (d.isEmpty) 0.0 else Stats.median(d), "s", d.length)
    }
    val q = math.max(1L, acc.queries)
    L("analysis.Tokenizer.query_us") = us("analysis.Tokenizer.tokenizeQuery")
    L("query.Engine.lookup_us") = us("query.Engine.lookup")
    L("query.Spell.correct_us") = us("query.Spell.correct")
    L("query.Spell.rewrite_frac") = Metric(acc.rewritten.toDouble / q, "ratio", acc.queries)
    L("index.SegmentCache.hit_ratio") =
      Metric(cacheHits.toDouble / math.max(1L, cacheHits + cacheMisses), "ratio", cacheHits + cacheMisses)
    L("index.SegmentCache.resident_mb") =
      Metric(SegmentCache.residentBytes / 1048576.0, "MB", SegmentCache.entryCount)
    L("index.Codec.decode_mb_per_s") =
      Metric(acc.blockBytes / 1048576.0 / math.max(acc.decodeNs / 1e9, 1e-9), "MB/s", acc.queries)
    L("index.Codec.decode_us") = us("index.Codec.decode")
    L("query.EngineCore.wand_self_us") = Metric(
      if (acc.wandSelfNs.isEmpty) 0.0 else Stats.median(acc.wandSelfNs.toSeq) / 1e3, "us", acc.wandSelfNs.length)
    // fetch-side counts: every block `lookup` returned, decoded in full;
    // the blocks WAND skips without decoding do not show in them
    L("query.Engine.lookup_blocks_per_query") = Metric(acc.blocks.toDouble / q, "count", acc.queries)
    L("query.Engine.lookup_postings_per_result") =
      Metric(acc.postings.toDouble / math.max(1L, acc.results), "count", acc.results)
    L("query.Engine.loadResolver_s") = sec("query.Engine.loadResolver")
    L("query.PhraseCore.forBatch_s") = sec("query.PhraseCore.forBatch")
    L("query.DistributedRunner.and_job_s") = sec("query.DistributedRunner.and_job")
    L("query.DistributedRunner.phrase_job_s") = sec("query.DistributedRunner.phrase_job")
    val groups = env.rollup.map(_.rollup()).getOrElse(Map.empty)
    val runnerStages = Seq("query.DistributedRunner.and_job", "query.DistributedRunner.phrase_job")
      .flatMap(groups.get).flatMap(_.stages.values).map(_._1).filter(_.length >= 2)
      .map(d => d.max.toDouble / math.max(1.0, Stats.median(d.map(_.toDouble).toSeq)))
    L("query.DistributedRunner.task_skew") =
      Metric(if (runnerStages.isEmpty) 1.0 else Stats.median(runnerStages), "ratio", runnerStages.length)
    L("query.EngineCore.and_us") = us("query.EngineCore.searchConjunctive")
    L("query.Phrase.search_us") = us("query.Phrase.search")
  }
}
