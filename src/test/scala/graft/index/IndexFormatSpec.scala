package graft.index

import graft.SparkSpec
import graft.analysis.{TweetIndex, Tokenizer}
import graft.query.{DistributedRunner, Engine}
import graft.streaming.{StreamIndexer, StreamIngest}
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.lit

/** The `format_version` stamp: every writer's index is accepted by
  * CorpusStats.read, and an index whose stamp is missing or different
  * is refused by every reader — the driver Engine, DistributedRunner
  * and Merge — with the directory named. */
class IndexFormatSpec extends SparkSpec {

  private val cfg = Build.Config(numPartitions = 2, verifySha = false,
    tokenizer = Tokenizer.plainCfg)

  private def build(lo: Long, name: String): String = {
    import spark.implicits._
    val d = tmpDir(name)
    Build.run(spark, (lo until lo + 20L).map(i =>
      (i, s"alpha beta 42 tok$i", 1000L + i)).toDF("doc_id", "content", "ingest_ts"),
      d, cfg)
    d
  }

  private def accepted(dir: String): CorpusStats = {
    val cs = CorpusStats.read(spark, dir)
    assert(cs.formatVersion == CorpusStats.FormatVersion, dir)
    cs
  }

  test("an index written by every writer is accepted by CorpusStats.read") {
    import spark.implicits._
    val a = build(0L, "fmt-a"); val b = build(100L, "fmt-b")
    val csA = accepted(a)
    assert(csA.nDocs == 20 && csA.boundScale == 1.0 && csA.tieAware)
    assert(csA.tokCfg == CorpusStats.fingerprint(Tokenizer.plainCfg))
    assert(csA.nNumberTokens == 20, "one '42' per doc")

    val tweets = tmpDir("fmt-tweets")
    TweetIndex.build(spark, Seq((0L, "Obama met Apple"), (1L, "apple pie"))
      .toDF("tweet_id", "full_text"), tweets, cfg)
    assert(accepted(tweets).nDocs == 2)

    val merged = tmpDir("fmt-merged")
    Merge.disjoint(spark, Seq(a, b), merged, spellIndex = false)
    val csM = accepted(merged)
    assert(csM.nDocs == 40 && csM.nNumberTokens == 40 &&
      csM.tsMin == 1000L && csM.tsMax == 1119L)

    val compacted = tmpDir("fmt-compact")
    Merge.compact(spark, merged, compacted)
    assert(accepted(compacted) == csM.copy(boundScale = 1.0))

    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("fmt-stream")
    val input = MemoryStream[StreamIngest.DocEvent]
    val q = StreamIndexer.start(input.toDS(), root, cfg.copy(spellIndex = false))
    try {
      input.addData(StreamIngest.DocEvent(0, "alpha beta",
        new java.sql.Timestamp(10000L)))
      q.processAllAvailable()
    } finally q.stop()
    assert(accepted(StreamIndexer.currentIndex(root).get).nDocs == 1)
  }

  test("a copy with format_version dropped or bumped is refused by every reader") {
    import spark.implicits._
    val a = build(0L, "fmt-src"); val b = build(100L, "fmt-other")
    val fs = SegmentStore.fs(a)
    def copyWith(name: String)(
        f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : String = {
      val d = s"${tmpDir(name)}/index"
      require(FileUtil.copy(fs, new Path(a), fs, new Path(d), false, fs.getConf))
      f(spark.read.parquet(CorpusStats.path(a)))
        .write.mode("overwrite").parquet(CorpusStats.path(d))
      d
    }
    val dropped = copyWith("fmt-dropped")(_.drop("format_version"))
    val bumped = copyWith("fmt-bumped")(
      _.withColumn("format_version", lit(CorpusStats.FormatVersion + 1)))
    val queries = Seq((1, "alpha")).toDF("query_num", "query")
    for (d <- Seq(dropped, bumped)) {
      val refusals = Seq(
        intercept[IllegalArgumentException](CorpusStats.read(spark, d)),
        intercept[IllegalArgumentException](
          new Engine(spark, d, Tokenizer.plainCfg)),
        intercept[IllegalArgumentException](
          DistributedRunner.run(spark, d, queries, tokCfg = Tokenizer.plainCfg)),
        intercept[IllegalArgumentException](
          Merge.disjoint(spark, Seq(d, b), tmpDir("fmt-out"))))
      refusals.foreach { e =>
        assert(e.getMessage.contains(d) &&
          e.getMessage.contains("format_version"), e.getMessage)
      }
    }
    // the untouched source still serves
    val eng = new Engine(spark, a, Tokenizer.plainCfg, preload = true)
    assert(eng.searchWand("alpha", 5).length == 5)
    eng.close()
  }
}
