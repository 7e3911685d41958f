package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.analysis.Tokenizer
import graft.index.{PosCursor, PosReader, PosStore, SegmentStore}

/** Phrase search over the positional sidecar ([[graft.index.PosStore]]):
  * documents containing the query's tokens ADJACENT and IN ORDER, with
  * occurrence count and first position — the query class the
  * position-free main index cannot serve.
  *
  * Algorithm: one [[PosCursor]] per phrase term (duplicate terms get
  * independent cursors over the same blocks), docId-leapfrog
  * intersection driven by the largest current docId with block-skips on
  * metadata alone — identical discipline to the conjunctive engine path
  * (EngineCore.searchConjunctiveQuery) — then, only for docs where all
  * terms agree, a sorted-pointer sweep over the position arrays counts
  * exact adjacency matches (term i must sit at p + i). Cost is bounded
  * by the RAREST term's df for the intersection plus the positions of
  * the intersected docs only.
  *
  * Resolution is EXACT by design: phrase semantics quote the user's
  * tokens, so no spell correction and no case-fold fallback beyond the
  * tokenizer's own lowercasing; any phrase term absent from the
  * positional dictionary empties the result (AND semantics, as q54).
  *
  * Two serving forms share one kernel ([[PhraseKernel.search]]):
  *  - [[PhraseSearcher]] — the driver-side engine (q60, CLI --driver):
  *    dictionary entries load on demand per term through Spark;
  *  - [[PhraseCore]] — the broadcastable batch core
  *    (DistributedRunner.runPhrase): the BATCH's term entries ride one
  *    vocab-bounded broadcast (the same discipline as EngineCore's
  *    dict) and each executor task leapfrogs its query slice against a
  *    per-thread byte-addressed reader. Corpus never shuffles. */
object PhraseKernel {

  /** Leapfrog + adjacency over already-resolved blocks. `blocksOf` must
    * return the docId-disjoint block set for a term (empty = unknown
    * term => empty result). Returns (docId, nMatches, firstPos)
    * docId-ascending. */
  private[query] def search(terms: Seq[String],
      blocksOf: String => Array[PosStore.PosBlock]): Array[(Long, Long, Long)] = {
    if (terms.isEmpty) return Array.empty
    val blocksByTerm = terms.distinct.map(t => t -> blocksOf(t)).toMap
    if (blocksByTerm.values.exists(_.isEmpty)) return Array.empty
    val cursors = terms.map(t => new PosCursor(blocksByTerm(t))).toArray
    if (cursors.exists(_.exhausted)) return Array.empty

    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var done = false
    while (!done) {
      var max = 0L
      var i = 0
      while (i < cursors.length && !done) {
        val d = cursors(i).curDoc
        if (d == Long.MaxValue) done = true
        else if (d > max) max = d
        i += 1
      }
      if (!done) {
        var agree = true
        i = 0
        while (i < cursors.length && !done) {
          cursors(i).advanceTo(max)
          val d = cursors(i).curDoc
          if (d == Long.MaxValue) done = true
          else if (d != max) agree = false
          i += 1
        }
        if (!done && agree) {
          val (n, first) = adjacencyCount(cursors.map(_.curPositions))
          if (n > 0) out += ((max, n.toLong, first.toLong))
          i = 0
          while (i < cursors.length) { cursors(i).next(); i += 1 }
        }
      }
    }
    out.toArray
  }

  /** Count positions p in arrs(0) with arrs(i) containing p+i for all i
    * — one monotone pointer per term, O(Σ|positions|) total. Returns
    * (count, first match position; -1 if none). */
  private[query] def adjacencyCount(arrs: Array[Array[Int]]): (Int, Int) = {
    val idx = new Array[Int](arrs.length)
    var count = 0
    var first = -1
    val base = arrs(0)
    var i = 0
    while (i < base.length) {
      val p = base(i)
      var ok = true
      var t = 1
      while (ok && t < arrs.length) {
        val arr = arrs(t)
        var j = idx(t)
        while (j < arr.length && arr(j) < p + t) j += 1
        idx(t) = j
        ok = j < arr.length && arr(j) == p + t
        t += 1
      }
      if (ok) { count += 1; if (first < 0) first = p }
      i += 1
    }
    (count, first)
  }
}

/** Driver-side phrase engine (q60, CLI --driver): entries load on
  * demand per term through Spark; one reader per searcher. */
final class PhraseSearcher(spark: SparkSession, indexDir: String,
                           tokCfg: Tokenizer.Config = Tokenizer.default) {

  require(PosStore.exists(indexDir),
    s"no positional sidecar under $indexDir (Build.buildPosStore)")

  private val reader = new PosReader(PosStore.posDir(indexDir))

  // term -> dict entries, loaded once per searcher per term (vocab-
  // bounded; a phrase has a handful of terms)
  private val entryCache =
    scala.collection.mutable.HashMap.empty[String, Array[SegmentStore.DictEntry]]

  private def entriesOf(terms: Seq[String]): Unit = {
    val missing = terms.distinct.filterNot(entryCache.contains)
    if (missing.nonEmpty) {
      import spark.implicits._
      val loaded = spark.read.parquet(PosStore.dictDir(indexDir))
        .filter($"term".isin(missing: _*))
        .as[SegmentStore.DictEntry].collect()
        .groupBy(_.term)
      missing.foreach(t => entryCache(t) = loaded.getOrElse(t, Array.empty))
    }
  }

  /** Batch-load the dict entries for a whole query list in ONE pruned
    * dict read (the driver-mode analog of [[PhraseCore.forBatch]]) —
    * without it a 10^4-query file pays one Spark job per query's new
    * terms. */
  def preload(phrases: Seq[String]): Unit =
    entriesOf(phrases.flatMap(q => Tokenizer.tokenizeSeq(q, tokCfg)).distinct)

  /** All docs matching the phrase: (docId, nMatches, firstPos),
    * docId-ascending. Empty when any term is unknown or the phrase has
    * no token. */
  def search(phrase: String): Array[(Long, Long, Long)] = {
    val terms = Tokenizer.tokenizeSeq(phrase, tokCfg)
    entriesOf(terms)
    PhraseKernel.search(terms,
      t => entryCache(t).flatMap(e => reader.record(e)._2))
  }

  def close(): Unit = reader.close()
}

/** Broadcastable batch phrase core: the batch's term entries as a plain
  * map (vocab-bounded — EngineCore's dict discipline), per-thread
  * readers executor-side. Blocks are fetched per query, NOT cached on
  * the core: a broadcast must stay its serialized size, and the hot
  * path is the byte-addressed read the posting path already takes. */
final class PhraseCore(posDir: String,
                       tokCfg: Tokenizer.Config,
                       entries: Map[String, Array[SegmentStore.DictEntry]])
    extends Serializable {

  @transient private lazy val readerTL: ThreadLocal[PosReader] =
    ThreadLocal.withInitial(() => new PosReader(posDir))
  private def reader: PosReader = readerTL.get()

  def search(phrase: String): Array[(Long, Long, Long)] = {
    val terms = Tokenizer.tokenizeSeq(phrase, tokCfg)
    val r = reader
    PhraseKernel.search(terms,
      t => entries.getOrElse(t, Array.empty).flatMap(e => r.record(e)._2))
  }

  def closeThreadReader(): Unit = { reader.close(); readerTL.remove() }
}

object PhraseCore {

  /** Build the batch core for a query table: the distinct TERM SET is
    * computed distributively (flatMap + distinct — never the raw
    * queries driver-side), then one pruned pos_dict read collects the
    * matching entries. Both driver-resident pieces are vocab-bounded
    * regardless of batch size. */
  def forBatch(spark: SparkSession, indexDir: String, queries: DataFrame,
               tokCfg: Tokenizer.Config): PhraseCore = {
    import spark.implicits._
    require(PosStore.exists(indexDir),
      s"no positional sidecar under $indexDir (Build.buildPosStore)")
    val terms = queries.select($"query".cast("string")).as[String]
      .flatMap(q => Tokenizer.tokenizeSeq(q, tokCfg))
      .distinct().collect().toSeq
    val entries =
      if (terms.isEmpty) Map.empty[String, Array[SegmentStore.DictEntry]]
      else spark.read.parquet(PosStore.dictDir(indexDir))
        .filter($"term".isin(terms: _*))
        .as[SegmentStore.DictEntry].collect()
        .groupBy(_.term)
    new PhraseCore(PosStore.posDir(indexDir), tokCfg, entries)
  }
}
