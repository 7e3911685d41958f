package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.sha2
import graft.corpus.Synth

/** Everything the program under test receives is made here from the
  * benchmark seed: the corpus is Synth's pure per-doc generator over a
  * seed-chosen doc-id window, and the query streams are drawn from the
  * seed and the index's own vocabulary. */
object Inputs {

  /** First doc id of the seed's window; windows of different seeds are
    * disjoint in practice (the id space is 10^12 wide). */
  def windowStart(seed: Long): Long =
    (Synth.mix(seed ^ 0x5eed5eedL) >>> 1) % 1000000000000L

  /** The docs table over ids [start, start + n): the same columns and
    * per-doc functions as `Synth.docs`, which only covers ids from 0. */
  def docs(spark: SparkSession, start: Long, n: Long, slices: Int): DataFrame = {
    import spark.implicits._
    spark.range(start, start + n, 1, slices).mapPartitions { it =>
      it.map { id =>
        val seed = Synth.Seed
        val r = new Synth.Rng(Synth.mix(seed ^ id ^ 0x9A7FL))
        val lang = Synth.lang(id)
        val ext = lang
        val path = s"src/dir${r.nextInt(13)}/File${r.nextInt(997)}.$ext"
        val commit = (f"${Synth.mix(seed ^ id ^ 0xC0117L)}%016x" * 2 + "00000000").take(40)
        val ts = 1500000000L + (Synth.mix(seed ^ id ^ 0x7153L) >>> 34)
        (s"org${id % 37}/repo${id % 211}", path, commit, lang,
          Synth.content(id), id, ts)
      }
    }.toDF("repo", "path", "commit", "lang", "content", "doc_id", "ingest_ts")
      .withColumn("content_sha256", sha2($"content", 256))
  }

  /** A seeded splitmix stream (the corpus generator's own RNG). */
  def rng(seed: Long, stream: Long): Synth.Rng =
    new Synth.Rng(Synth.mix(seed * 0x9E3779B97F4A7C15L ^ stream))

  /** Zipf(s = 1) sampler over vocabulary ranks 0..n-1. */
  final class Zipf(n: Int) {
    private val cum: Array[Double] = {
      val c = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += 1.0 / (i + 1); c(i) = acc; i += 1 }
      c
    }
    def draw(r: Synth.Rng): Int = {
      val u = r.nextDouble() * cum(n - 1)
      val i = java.util.Arrays.binarySearch(cum, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val letters = "abcdefghijklmnopqrstuvwxyz"

  /** One random edit (delete, substitute, transpose or insert) of `w`. */
  def misspell(w: String, r: Synth.Rng): String = {
    val i = r.nextInt(w.length)
    val c = letters.charAt(r.nextInt(letters.length))
    r.nextInt(4) match {
      case 0 => w.substring(0, i) + w.substring(i + 1)
      case 1 => w.substring(0, i) + c + w.substring(i + 1)
      case 2 if i + 1 < w.length =>
        w.substring(0, i) + w.charAt(i + 1) + w.charAt(i) + w.substring(i + 2)
      case _ => w.substring(0, i) + c + w.substring(i)
    }
  }

  /** Disjunctive queries: 1-4 terms drawn Zipf from the vocabulary (sorted
    * by df, most frequent first); each term of 5+ letters is misspelled by
    * one fresh random edit with probability `typoRate`. */
  final class ZipfQueries(vocab: Array[String], seed: Long, typoRate: Double) {
    private val r = rng(seed, 0x21Bf)
    private val z = new Zipf(vocab.length)
    var typos = 0L
    def next(): String =
      Seq.fill(1 + r.nextInt(4)) {
        val t = vocab(z.draw(r))
        if (t.length >= 5 && t.forall(_.isLetter) && r.nextDouble() < typoRate) {
          typos += 1
          misspell(t, r)
        } else t
      }.mkString(" ")
  }

  /** Conjunctive queries: 2-3 distinct terms from a df band. */
  def andQueries(band: Array[String], seed: Long, stream: Long, n: Int): Seq[String] = {
    val r = rng(seed, stream)
    Seq.fill(n) {
      val k = 2 + r.nextInt(2)
      Iterator.continually(band(r.nextInt(band.length))).distinct.take(k).mkString(" ")
    }
  }

  private def plainWord(w: String): Boolean =
    w.length >= 3 && w.forall(c => c >= 'a' && c <= 'z')

  /** Phrases of 2-3 adjacent plain words cut from random corpus documents,
    * so that most of them match at least their source document. */
  def phrases(start: Long, nDocs: Long, seed: Long, stream: Long, n: Int): Seq[String] = {
    val r = rng(seed, stream)
    Seq.fill(n) {
      Iterator.continually {
        val lines = Synth.content(start + (r.nextLong() >>> 1) % nDocs).split('\n')
        val words = lines(r.nextInt(lines.length)).split(' ')
        val k = 2 + r.nextInt(2)
        val at = r.nextInt(math.max(1, words.length - k + 1))
        words.slice(at, at + k)
      }.find(ws => ws.length >= 2 && ws.forall(plainWord)).get.mkString(" ")
    }
  }
}
