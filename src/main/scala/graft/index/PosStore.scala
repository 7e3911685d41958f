package graft.index

import org.apache.hadoop.fs.Path
import scala.collection.mutable.ArrayBuffer

/** Positional postings sidecar — the OPT-IN artifact behind phrase
  * queries ("these terms ADJACENT, in this order"), which the main
  * index cannot answer: it drops positions by design (reference parity,
  * indexer.py:108 computes-then-drops them; Tokenizer F19). The sidecar
  * follows the repo's artifact discipline (TsStore, SpellStore, the
  * AnnStore layouts): its absence changes nothing — WAND/conjunctive
  * queries never read it — and its presence adds the phrase surface.
  *
  * Layout mirrors the posting segments byte-for-byte in spirit
  * (SegmentStore scaladoc): one `pos-segment-$pid.bin` per shuffle
  * partition rolled at a posting budget, a `pos_dict` parquet of
  * byte-addressed records, and the SAME `_markers` checkpoint/resume
  * protocol — SegmentStore's marker machinery is reused verbatim (the
  * dict-entry `cf` slot carries total positions for a run).
  *
  * Record layout per (term, salt):
  *   df:int, nBlocks:int, then per block:
  *     n:int, firstDocId:long, lastDocId:long, len:int, bytes[len]
  *   bytes = varbyte(docId: first absolute, then gaps)[n]
  *         ++ varbyte(npos)[n]
  *         ++ varbyte(positions: first absolute, then gaps, per doc)[Σnpos]
  *
  * Blocks are independently decodable with skip metadata (lastDocId), so
  * a phrase cursor leapfrogs block-granular exactly like WAND's
  * advanceTo — a rare phrase term drags the scan toward its own df.
  */
object PosStore {

  val BlockSize = 128

  /** One positional posting: ascending in-doc token positions. */
  final case class PosPosting(docId: Long, pos: Array[Int])

  /** One encoded positional block + skip metadata. */
  final case class PosBlock(bytes: Array[Byte], n: Int,
                            firstDocId: Long, lastDocId: Long)

  def posDir(indexDir: String): String = s"$indexDir/pos"
  def dictDir(indexDir: String): String = s"$indexDir/pos_dict"

  def exists(indexDir: String): Boolean = {
    val f = SegmentStore.fs(indexDir)
    f.exists(new Path(dictDir(indexDir))) && f.exists(new Path(posDir(indexDir)))
  }

  /** The analysis fingerprint (CorpusStats.fingerprint form) the sidecar
    * was built under, read from any one marker's lineage: Merge refuses
    * to union sidecars whose fingerprints differ. */
  def fingerprint(indexDir: String): String = {
    val pd = posDir(indexDir)
    val f = SegmentStore.fs(pd)
    val markers = f.listStatus(new Path(s"$pd/_markers"))
      .filter(_.getPath.getName.endsWith(".json"))
    require(markers.nonEmpty, s"no pos markers under $pd — corrupt sidecar")
    val in: java.io.InputStream = f.open(markers.head.getPath)
    val lineage =
      try SegmentStore.mapper.readValue(in,
        classOf[SegmentStore.PartitionMarker]).lineage
      finally in.close()
    val fp = "stem=[^|]*\\|plain=[^|]*\\|sw=[^|]*".r.findFirstIn(lineage)
    require(fp.isDefined,
      s"$pd marker lineage carries no analysis fingerprint: $lineage")
    fp.get
  }

  /** Persist `fp` where [[fingerprint]] reads it, as the one entry-less
    * marker of a merged sidecar (which has no partition of its own). */
  def writeFingerprint(indexDir: String, fp: String): Unit =
    SegmentStore.writeMarker(posDir(indexDir), SegmentStore.PartitionMarker(
      0, Seq.empty, 0L, 0L, s"pos|merged|$fp", Seq.empty))

  // ---- codec ---------------------------------------------------------

  /** Map-side shuffle payload: one doc's ascending positions varbyte-
    * packed (count, first absolute, then gaps) — the term string + a
    * 1-2 B/position blob is what crosses the network, not an int array. */
  def packPositions(ps: Array[Int]): Array[Byte] = {
    val vals = new Array[Long](ps.length + 1)
    vals(0) = ps.length.toLong
    var i = 0
    while (i < ps.length) {
      vals(i + 1) = if (i == 0) ps(0).toLong else (ps(i) - ps(i - 1)).toLong
      require(i == 0 || ps(i) > ps(i - 1), "positions must be strictly ascending")
      i += 1
    }
    val buf = new ArrayBuffer[Byte](ps.length + 2)
    Codec.varbyteEncode(vals, buf)
    buf.toArray
  }

  def unpackPositions(b: Array[Byte]): Array[Int] = {
    val cnt = new Array[Long](1)
    val off = Codec.varbyteDecode(b, 0, 1, cnt, 0)
    val n = cnt(0).toInt
    val gaps = new Array[Long](n)
    Codec.varbyteDecode(b, off, n, gaps, 0)
    val out = new Array[Int](n)
    var acc = 0
    var i = 0
    while (i < n) { acc = if (i == 0) gaps(0).toInt else acc + gaps(i).toInt; out(i) = acc; i += 1 }
    out
  }

  def encodeBlock(ps: Array[PosPosting], from: Int, until: Int): PosBlock = {
    val n = until - from
    val buf = new ArrayBuffer[Byte](n * 6)
    val ids = new Array[Long](n)
    val nps = new Array[Long](n)
    var totalPos = 0
    var i = 0
    var prev = 0L
    while (i < n) {
      val p = ps(from + i)
      ids(i) = if (i == 0) p.docId else {
        require(p.docId > prev, s"pos postings not strictly docId-sorted at ${p.docId}")
        p.docId - prev
      }
      prev = p.docId
      nps(i) = p.pos.length.toLong
      totalPos += p.pos.length
      i += 1
    }
    val pgaps = new Array[Long](totalPos)
    var o = 0
    i = 0
    while (i < n) {
      val arr = ps(from + i).pos
      var j = 0
      var pprev = 0
      while (j < arr.length) {
        val v = arr(j)
        require(j == 0 || v > pprev, s"positions not strictly ascending at $v")
        pgaps(o) = if (j == 0) v.toLong else (v - pprev).toLong
        pprev = v
        o += 1; j += 1
      }
      i += 1
    }
    Codec.varbyteEncode(ids, buf)
    Codec.varbyteEncode(nps, buf)
    Codec.varbyteEncode(pgaps, buf)
    PosBlock(buf.toArray, n, ps(from).docId, ps(until - 1).docId)
  }

  def encode(ps: Array[PosPosting]): Array[PosBlock] = {
    val out = ArrayBuffer.empty[PosBlock]
    var i = 0
    while (i < ps.length) {
      val until = math.min(i + BlockSize, ps.length)
      out += encodeBlock(ps, i, until)
      i = until
    }
    out.toArray
  }

  def decodeBlock(b: PosBlock): Array[PosPosting] = {
    val ids = new Array[Long](b.n)
    val nps = new Array[Long](b.n)
    var pos = Codec.varbyteDecode(b.bytes, 0, b.n, ids, 0)
    pos = Codec.varbyteDecode(b.bytes, pos, b.n, nps, 0)
    var totalPos = 0
    var i = 0
    while (i < b.n) { totalPos += nps(i).toInt; i += 1 }
    val pgaps = new Array[Long](totalPos)
    Codec.varbyteDecode(b.bytes, pos, totalPos, pgaps, 0)
    val out = new Array[PosPosting](b.n)
    var acc = 0L
    var o = 0
    i = 0
    while (i < b.n) {
      acc = if (i == 0) ids(0) else acc + ids(i)
      val np = nps(i).toInt
      val arr = new Array[Int](np)
      var j = 0
      var pacc = 0
      while (j < np) {
        pacc = if (j == 0) pgaps(o).toInt else pacc + pgaps(o).toInt
        arr(j) = pacc
        o += 1; j += 1
      }
      out(i) = PosPosting(acc, arr)
      i += 1
    }
    out
  }

  // ---- writer (same roll/marker protocol as SegmentStore) ------------

  /** Positional budget: rolls are by POSITION count, not posting count —
    * a positional run is |positions|-sized, so the budget bounds file
    * size by the same logic as SegmentPostingBudget. */
  val PosBudget = 4000000L

  /** Write one partition's (term, salt, docId-sorted positional
    * postings) stream. `it` must be sorted by (term, salt, docId).
    * Marker protocol (resume, tmp+rename, lineage) is SegmentStore's,
    * pointed at the pos dir; DictEntry.df = run postings, .cf = run
    * total positions. */
  def writePartition(dir: String, pid: Int, lineage: String,
                     it: Iterator[(String, Int, PosPosting)],
                     posBudget: Long = PosBudget): SegmentStore.PartitionMarker = {
    SegmentStore.readMarker(dir, pid) match {
      case Some(m) if SegmentStore.isComplete(dir, pid, lineage) => return m
      case _ =>
    }
    // file lifecycle (roll/tmp+rename/recovery) is the shared
    // RollingWriter — one protocol copy for both segment stores
    val w = new RollingWriter(dir, s"pos-segment-$pid")
    val entries = ArrayBuffer.empty[SegmentStore.DictEntry]
    var rows = 0L

    def flushGroup(term: String, salt: Int, arr: Array[PosPosting]): Unit = {
      if (arr.isEmpty) return
      w.rollIfOver(posBudget)
      val start = w.out.size().toLong
      val blocks = encode(arr)
      w.out.writeInt(arr.length)
      w.out.writeInt(blocks.length)
      blocks.foreach { b =>
        w.out.writeInt(b.n); w.out.writeLong(b.firstDocId)
        w.out.writeLong(b.lastDocId); w.out.writeInt(b.bytes.length)
        w.out.write(b.bytes)
      }
      var cf = 0L
      var pi = 0
      while (pi < arr.length) { cf += arr(pi).pos.length; pi += 1 }
      entries += SegmentStore.DictEntry(term, salt, w.fileName, start,
        (w.out.size() - start).toInt, arr.length, cf)
      rows += arr.length
      w.addUnits(cf) // positional budget counts POSITIONS, not postings
    }

    // change-detection grouping: one (term, salt) run buffered at a time
    var curTerm: String = null
    var curSalt = -1
    val buf = ArrayBuffer.empty[PosPosting]
    it.foreach { case (t, s, p) =>
      if (t != curTerm || s != curSalt) {
        if (curTerm != null) flushGroup(curTerm, curSalt, buf.toArray)
        buf.clear(); curTerm = t; curSalt = s
      }
      buf += p
    }
    if (curTerm != null) flushGroup(curTerm, curSalt, buf.toArray)
    w.closeFile()

    val marker = SegmentStore.PartitionMarker(pid, w.files.toSeq, rows,
      w.totalBytes, lineage, entries.toSeq)
    SegmentStore.writeMarker(dir, marker)
    marker
  }
}

/** Byte-addressed positional reader — SegmentReader's shape over the
  * pos files. */
final class PosReader(dir: String) {
  private val f = SegmentStore.fs(dir)
  private val streams =
    scala.collection.mutable.HashMap.empty[String, org.apache.hadoop.fs.FSDataInputStream]

  def record(e: SegmentStore.DictEntry): (Int, Array[PosStore.PosBlock]) = {
    val in = streams.getOrElseUpdate(e.file, f.open(new Path(s"$dir/${e.file}")))
    val buf = new Array[Byte](e.length)
    in.readFully(e.offset, buf, 0, e.length)
    val din = new java.io.DataInputStream(new java.io.ByteArrayInputStream(buf))
    val df = din.readInt()
    val nBlocks = din.readInt()
    val blocks = Array.fill(nBlocks) {
      val n = din.readInt(); val first = din.readLong()
      val last = din.readLong(); val len = din.readInt()
      val bs = new Array[Byte](len); din.readFully(bs)
      PosStore.PosBlock(bs, n, first, last)
    }
    (df, blocks)
  }

  def close(): Unit = { streams.values.foreach(_.close()); streams.clear() }
}

/** docId-leapfrog cursor over one term's positional blocks (possibly
  * from several salt runs — blocks sorted by firstDocId; salted runs
  * are docId-range-disjoint so concatenation preserves global order).
  * Blocks decode LAZILY on first touch: advanceTo skips whole blocks on
  * lastDocId metadata alone, the WAND block-skip discipline. */
final class PosCursor(blocksIn: Array[PosStore.PosBlock]) {
  private val blocks = blocksIn.sortBy(_.firstDocId)
  private var bi = 0            // current block
  private var decoded: Array[PosStore.PosPosting] = null
  private var pi = 0            // index within decoded block
  private var decodes = 0       // observability: test gate on block skips
  // invariant: if !exhausted, pi indexes a live posting of blocks(bi)
  // once decoded (every encoded block is non-empty, so pi = 0 is live
  // on block entry)

  def decodeCount: Int = decodes

  private def ensureDecoded(): Unit =
    if (decoded == null) { decoded = PosStore.decodeBlock(blocks(bi)); decodes += 1 }

  def exhausted: Boolean = bi >= blocks.length

  def curDoc: Long =
    if (exhausted) Long.MaxValue else { ensureDecoded(); decoded(pi).docId }

  def curPositions: Array[Int] = { ensureDecoded(); decoded(pi).pos }

  def next(): Unit = {
    if (exhausted) return
    ensureDecoded()
    pi += 1
    if (pi >= decoded.length) { bi += 1; decoded = null; pi = 0 }
  }

  /** Advance to the first posting with docId >= target; block-granular
    * skips consume only metadata (no decode). */
  def advanceTo(target: Long): Unit = {
    while (!exhausted) {
      if (blocks(bi).lastDocId < target) { bi += 1; decoded = null; pi = 0 }
      else {
        ensureDecoded()
        while (pi < decoded.length && decoded(pi).docId < target) pi += 1
        if (pi < decoded.length) return
        bi += 1; decoded = null; pi = 0
      }
    }
  }
}
