package graft.index

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataOutputStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.collection.mutable.ArrayBuffer

/** Posting-segment binary store + per-partition checkpoint markers.
  *
  * Replaces the reference's pickled posting segments + dict file pointers
  * (reference indexer.py:551-578, utils.py:4-42). One segment file per
  * shuffle partition; the term dictionary records (term, salt) ->
  * (file, offset, length) exactly like the reference's `inverted_idx[term]
  * [1]` posting-file pointer (indexer.py:571), made byte-addressable.
  *
  * Checkpoint/resume (north rule): before encoding, a task checks its
  * partition marker; if the marker and segment file match, the partition
  * is skipped without consuming the shuffle iterator. Markers carry
  * lineage + rows/bytes metrics + the partition's dictionary entries, so
  * a resumed build reconstructs the dictionary without re-encoding.
  * Writes go through Hadoop FileSystem (works on file://, HDFS, S3A) with
  * tmp + rename for atomicity; task retries are idempotent.
  *
  * Record layout per (term, salt):
  *   df:int, nBlocks:int, then per block:
  *     n:int, firstDocId:long, lastDocId:long, maxTf:int, maxU:double,
  *     len:int, bytes[len]
  */
object SegmentStore {

  /** `df` = postings in this (term, salt) run; `cf` = sum of tf. The
    * per-term totals (term_stats) are vocab-sized sums over these runs
    * — the build never re-shuffles the posting set to count them. */
  final case class DictEntry(term: String, salt: Int, file: String,
                             offset: Long, length: Int, df: Int, cf: Long)

  final case class FileMeta(name: String, bytes: Long)

  final case class PartitionMarker(partitionId: Int, files: Seq[FileMeta],
                                   rows: Long, bytes: Long, lineage: String,
                                   entries: Seq[DictEntry])

  /** Segment files roll at ~2M postings (the reference's segment budget,
    * indexer.py:551-554) so no single file grows unbounded at corpus
    * scale and the writer streams — nothing partition-sized in memory. */
  val SegmentPostingBudget = 2000000L

  // shared with TsStore's manifest (one serialization config to keep
  // consistent, not one copy per artifact store)
  private[index] def mapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  def fs(dir: String): FileSystem =
    new Path(dir).getFileSystem(new Configuration())

  def markerPath(dir: String, pid: Int) = new Path(s"$dir/_markers/part-$pid.json")
  def segmentPath(dir: String, pid: Int) = new Path(s"$dir/segment-$pid.bin")

  def readMarker(dir: String, pid: Int): Option[PartitionMarker] = {
    val f = fs(dir)
    val p = markerPath(dir, pid)
    if (!f.exists(p)) None
    else {
      val in: java.io.InputStream = f.open(p)
      try Some(mapper.readValue(in, classOf[PartitionMarker]))
      finally in.close()
    }
  }

  def writeMarker(dir: String, m: PartitionMarker): Unit = {
    val f = fs(dir)
    val p = markerPath(dir, m.partitionId)
    val tmp = new Path(p.toString + s".tmp-${java.util.UUID.randomUUID()}")
    val out: java.io.OutputStream = f.create(tmp, true)
    try mapper.writeValue(out, m) finally out.close()
    if (f.exists(p)) f.delete(p, false)
    f.rename(tmp, p)
  }

  /** True if partition `pid` is already complete for this lineage:
    * marker matches and every rolled file exists at its recorded size. */
  def isComplete(dir: String, pid: Int, lineage: String): Boolean =
    readMarker(dir, pid).exists { m =>
      val f = fs(dir)
      m.lineage == lineage && m.files.forall { fm =>
        val p = new Path(s"$dir/${fm.name}")
        f.exists(p) && f.getFileStatus(p).getLen == fm.bytes
      }
    }

  /** Encode + write one partition's (term, salt, sorted postings) groups.
    * `it` must be sorted by (term, salt, docId) — guaranteed by the
    * build's sortWithinPartitions. Streams straight to the filesystem
    * (only one (term,salt) group buffered at a time) and rolls to a new
    * file every SegmentPostingBudget postings, at group boundaries.
    * Returns the marker (also persisted). */
  def writePartition(dir: String, pid: Int, lineage: String,
                     it: Iterator[(String, Int, Codec.Posting)],
                     scoreOf: (Int, Int) => Double,
                     postingBudget: Long = SegmentPostingBudget): PartitionMarker = {
    readMarker(dir, pid) match {
      case Some(m) if isComplete(dir, pid, lineage) =>
        return m // resume: skip without consuming the shuffle iterator
      case _ =>
    }
    writeCore(dir, pid, lineage, groupRows(it), scoreOf, postingBudget)
  }

  /** Change-detection grouping of a (term, salt, posting)-sorted row
    * stream into whole groups — one group's postings buffered at a
    * time, like the original streaming writer. */
  private def groupRows(it: Iterator[(String, Int, Codec.Posting)])
      : Iterator[(String, Int, Array[Codec.Posting])] =
    new Iterator[(String, Int, Array[Codec.Posting])] {
      private var pendingTerm: String = null
      private var pendingSalt = -1
      private var pendingPosting: Codec.Posting = null
      private val buf = ArrayBuffer.empty[Codec.Posting]
      def hasNext: Boolean = pendingPosting != null || it.hasNext
      def next(): (String, Int, Array[Codec.Posting]) = {
        buf.clear()
        if (pendingPosting == null) {
          val (t, s, p) = it.next()
          pendingTerm = t; pendingSalt = s; pendingPosting = p
        }
        val term = pendingTerm
        val salt = pendingSalt
        buf += pendingPosting
        pendingPosting = null
        var done = false
        while (!done && it.hasNext) {
          val (t, s, p) = it.next()
          if (t == term && s == salt) buf += p
          else { pendingTerm = t; pendingSalt = s; pendingPosting = p; done = true }
        }
        (term, salt, buf.toArray)
      }
    }

  private def writeCore(dir: String, pid: Int, lineage: String,
                        groups: Iterator[(String, Int, Array[Codec.Posting])],
                        scoreOf: (Int, Int) => Double,
                        postingBudget: Long): PartitionMarker = {
    val w = new RollingWriter(dir, s"segment-$pid")
    val entries = ArrayBuffer.empty[DictEntry]
    var rows = 0L

    def flushGroup(term: String, salt: Int,
                   arr: Array[Codec.Posting]): Unit = {
      if (arr.isEmpty) return
      w.rollIfOver(postingBudget)
      val start = w.out.size().toLong
      val blocks = Codec.encode(arr, scoreOf)
      w.out.writeInt(arr.length)
      w.out.writeInt(blocks.length)
      blocks.foreach { b =>
        w.out.writeInt(b.n); w.out.writeLong(b.firstDocId)
        w.out.writeLong(b.lastDocId); w.out.writeInt(b.maxTf)
        w.out.writeDouble(b.maxScore); w.out.writeInt(b.bytes.length)
        w.out.write(b.bytes)
      }
      var cf = 0L
      var pi = 0
      while (pi < arr.length) { cf += arr(pi).tf; pi += 1 }
      entries += DictEntry(term, salt, w.fileName, start,
        (w.out.size() - start).toInt, arr.length, cf)
      rows += arr.length
      w.addUnits(arr.length)
    }

    groups.foreach { case (term, salt, arr) => flushGroup(term, salt, arr) }
    w.closeFile()

    val marker = PartitionMarker(pid, w.files.toSeq, rows, w.totalBytes,
      lineage, entries.toSeq)
    writeMarker(dir, marker)
    marker
  }

  /** Read one (term, salt) record's blocks from a segment file. */
  def readRecord(dir: String, e: DictEntry): (Int, Array[Codec.Block]) = {
    val r = new SegmentReader(dir)
    try r.record(e) finally r.close()
  }
}

/** THE one copy of the segment-file lifecycle, shared by the posting
  * writer (SegmentStore.writeCore) and the positional writer
  * (PosStore.writePartition): budget-based rolls at record boundaries,
  * tmp+UUID create, stale-name delete, atomic rename, FileMeta
  * accounting. A fix to the roll/rename/recovery protocol lands once.
  * First file is `<prefix>.bin`, rolls are `<prefix>-<i>.bin`. */
private[index] final class RollingWriter(dir: String, prefix: String) {
  private val f = SegmentStore.fs(dir)
  val files: ArrayBuffer[SegmentStore.FileMeta] = ArrayBuffer.empty
  var totalBytes = 0L
  private var fileIdx = -1
  var fileName: String = _
  private var tmpPath: Path = _
  var out: DataOutputStream = _
  private var unitsInFile = 0L

  openFile()

  private def openFile(): Unit = {
    fileIdx += 1
    fileName = if (fileIdx == 0) s"$prefix.bin" else s"$prefix-$fileIdx.bin"
    tmpPath = new Path(s"$dir/$fileName.tmp-${java.util.UUID.randomUUID()}")
    out = new DataOutputStream(new BufferedOutputStream(f.create(tmpPath, true)))
    unitsInFile = 0L
  }

  /** Roll at a RECORD boundary once the caller-counted units (postings,
    * positions) exceed the budget. Call before starting a record. */
  def rollIfOver(budget: Long): Unit =
    if (unitsInFile >= budget) { closeFile(); openFile() }

  def addUnits(n: Long): Unit = unitsInFile += n

  def closeFile(): Unit = {
    if (out == null) return
    out.flush(); out.close()
    val fin = new Path(s"$dir/$fileName")
    // loud failures: HDFS-style filesystems report delete/rename via the
    // boolean (same invariant as Merge.linkOrCopy)
    if (f.exists(fin)) require(f.delete(fin, false), s"failed to delete stale $fin")
    require(f.rename(tmpPath, fin), s"failed to rename $tmpPath -> $fin")
    files += SegmentStore.FileMeta(fileName, f.getFileStatus(fin).getLen)
    totalBytes += files.last.bytes
    out = null
  }
}

/** Byte-addressed segment reader with an open-handle cache — the analog
  * of the reference's "reload segment only when it changes" locality
  * optimization (reference searcher.py:59-70, 121-131; SURVEY Q5). */
final class SegmentReader(dir: String) {
  private val f = SegmentStore.fs(dir)
  private val streams =
    scala.collection.mutable.HashMap.empty[String, org.apache.hadoop.fs.FSDataInputStream]
  // set by close(); lets a sharing owner (EngineCore's per-thread cache)
  // detect a reader another thread closed in O(1) instead of scanning
  // its tracking structure on every record fetch
  @volatile private var closedFlag = false
  def isClosed: Boolean = closedFlag

  def record(e: SegmentStore.DictEntry): (Int, Array[Codec.Block]) = {
    val in = streams.getOrElseUpdate(e.file, f.open(new Path(s"$dir/${e.file}")))
    val buf = new Array[Byte](e.length)
    in.readFully(e.offset, buf, 0, e.length)
    val din = new java.io.DataInputStream(new java.io.ByteArrayInputStream(buf))
    val df = din.readInt()
    val nBlocks = din.readInt()
    val blocks = Array.fill(nBlocks) {
      val n = din.readInt(); val first = din.readLong()
      val last = din.readLong(); val maxTf = din.readInt()
      val maxU = din.readDouble(); val len = din.readInt()
      val bs = new Array[Byte](len); din.readFully(bs)
      Codec.Block(bs, n, first, last, maxTf, maxU)
    }
    (df, blocks)
  }

  def close(): Unit = {
    closedFlag = true
    streams.values.foreach(_.close()); streams.clear()
  }
}
