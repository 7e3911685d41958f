package graft.index

import org.apache.spark.sql.{SaveMode, SparkSession}
import graft.analysis.Tokenizer

/** An index's corpus-level metadata — the one-row `corpus_stats` table —
  * and THE module that reads or writes it. Every writer (the build,
  * disjoint merge, compaction) hands it a complete row, and every
  * reader (the driver Engine, DistributedRunner, a merge's part reads)
  * takes the fields from here, so the index format is decided once.
  *
  *  - `boundScale`: the factor a merged index's stored block-max bounds
  *    must be multiplied by to stay true upper bounds (Merge scaladoc);
  *    exactly 1 on a build or a compaction.
  *  - `tsMin`/`tsMax`: the ingest_ts range. Equal bounds mean no recency
  *    signal, so no tiebreak lookup is ever opened; any nonzero bound
  *    means the index carries a `ts/` store (TsStore).
  *  - `nNumberTokens`: the A9 numbers-in-corpus counter (reference
  *    parser_module.py:18 + 519-521); a merge sums its parts'.
  *  - `tokCfg`: the analysis-chain fingerprint ([[fingerprint]]); a
  *    merge refuses parts whose fingerprints differ.
  *  - `formatVersion`: indexes written under another layout are refused
  *    by [[read]] rather than served through compatibility branches.
  */
final case class CorpusStats(nDocs: Long, avgdl: Double, boundScale: Double,
                             tsMin: Long, tsMax: Long, nNumberTokens: Long,
                             tokCfg: String,
                             formatVersion: Int = CorpusStats.FormatVersion) {
  /** Exact score ties can differ by recency: the tiebreak store is read. */
  def tieAware: Boolean = tsMin != tsMax

  /** The corpus carries a recency signal, so the index has a `ts/` store. */
  def hasRecency: Boolean = tsMin != 0L || tsMax != 0L

  def write(spark: SparkSession, indexDir: String): Unit = {
    import spark.implicits._
    Seq(this).toDF(CorpusStats.Columns: _*)
      .write.mode(SaveMode.Overwrite).parquet(CorpusStats.path(indexDir))
  }
}

object CorpusStats {

  /** The index layout this code writes and serves. Bump it whenever a
    * writer changes what a reader relies on. */
  val FormatVersion: Int = 1

  private val Columns = Seq("n_docs", "avgdl", "bound_scale", "ts_min",
    "ts_max", "n_number_tokens", "tok_cfg", "format_version")

  def path(indexDir: String): String = s"$indexDir/corpus_stats"

  /** Load the row in one Spark job. Refuses, naming the directory, an
    * index whose `format_version` is missing (written before the stamp)
    * or different from [[FormatVersion]]. */
  def read(spark: SparkSession, indexDir: String): CorpusStats = {
    val df = spark.read.parquet(path(indexDir))
    require(df.columns.contains("format_version"),
      s"$indexDir: corpus_stats carries no format_version — the index " +
        s"predates format $FormatVersion; rebuild it")
    val r = df.head()
    val v = r.getAs[Int]("format_version")
    require(v == FormatVersion,
      s"$indexDir: index format_version $v, this build serves " +
        s"$FormatVersion; rebuild it")
    CorpusStats(r.getAs[Long]("n_docs"), r.getAs[Double]("avgdl"),
      r.getAs[Double]("bound_scale"), r.getAs[Long]("ts_min"),
      r.getAs[Long]("ts_max"), r.getAs[Long]("n_number_tokens"),
      r.getAs[String]("tok_cfg"), v)
  }

  /** Analysis-chain fingerprint `stem=…|plain=…|sw=…`: the main index
    * stores it as `tokCfg`, the positional sidecar carries it in its
    * marker lineage. Merging a stemmed index into an unstemmed one
    * unions incompatible term spaces and must fail loudly, not serve
    * silently-wrong df/idf. The stopword set enters via an MD5 of the
    * SORTED word list: collection hashCode (MurmurHash3) is only stable
    * within one Scala release, so identical stopword sets built before
    * and after a toolchain upgrade would refuse to merge — and a hash
    * collision could let genuinely different sets merge; a content
    * digest has neither failure mode. */
  def fingerprint(cfg: Tokenizer.Config): String = {
    val swDigest = java.security.MessageDigest.getInstance("MD5")
      .digest(cfg.stopwords.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    s"stem=${cfg.stem}|plain=${cfg.plain}|sw=$swDigest"
  }
}
