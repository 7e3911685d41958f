package graft.index

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Delta-gap + varbyte codec properties (SURVEY.md §5 item 2), driven by
  * seeded deterministic generators (no scalatest-scalacheck bridge in the
  * offline cache). */
class CodecSpec extends AnyFunSuite {

  private val score = (tf: Int, dl: Int) =>
    graft.query.BM25.normPart(tf, dl, 50.0)

  private def randPostings(r: Random, n: Int): Array[Codec.Posting] = {
    var id = 0L
    Array.fill(n) {
      id += 1 + r.nextInt(10000)
      Codec.Posting(id, 1 + r.nextInt(500), 1 + r.nextInt(5000))
    }
  }

  test("varbyte round-trips arbitrary non-negative longs") {
    val r = new Random(42)
    (1 to 50).foreach { _ =>
      val vs = Array.fill(r.nextInt(300) + 1)(r.nextLong().abs)
      val buf = new scala.collection.mutable.ArrayBuffer[Byte]()
      Codec.varbyteEncode(vs, buf)
      val out = new Array[Long](vs.length)
      Codec.varbyteDecode(buf.toArray, 0, vs.length, out, 0)
      assert(out.toSeq == vs.toSeq)
    }
  }

  test("encode/decode round-trips sorted posting lists (incl. multi-block)") {
    val r = new Random(7)
    (1 to 40).foreach { _ =>
      val ps = randPostings(r, 1 + r.nextInt(1000))
      val blocks = Codec.encode(ps, score)
      assert(blocks.forall(_.n <= Codec.BlockSize))
      assert(Codec.decode(blocks.toSeq).toSeq == ps.toSeq)
    }
  }

  test("block metadata: maxScore bounds every posting in the block") {
    val r = new Random(13)
    (1 to 30).foreach { _ =>
      val ps = randPostings(r, 1 + r.nextInt(600))
      Codec.encode(ps, score).foreach { b =>
        val dec = Codec.decodeBlock(b)
        assert(dec.head.docId == b.firstDocId)
        assert(dec.last.docId == b.lastDocId)
        assert(dec.forall(p => score(p.tf, p.dl) <= b.maxScore))
        assert(dec.map(_.tf).max == b.maxTf)
      }
    }
  }

  test("docId-range-salted runs concatenate losslessly (SURVEY M3, hard-part 4)") {
    val r = new Random(99)
    (1 to 30).foreach { _ =>
      val ps = randPostings(r, 2 + r.nextInt(800))
      val nSalts = 2 + r.nextInt(4)
      val maxId = ps.last.docId
      val runs = ps.groupBy(p =>
        ((p.docId.toDouble * nSalts) / (maxId + 1)).toInt.min(nSalts - 1))
      val allBlocks = runs.values.flatMap(run => Codec.encode(run, score)).toSeq
      assert(Codec.decode(allBlocks).toSeq == ps.toSeq)
    }
  }

  test("varbyte compresses small gaps below 8 bytes/posting") {
    val ps = (1L to 10000L).map(i => Codec.Posting(i, 1, 40)).toArray
    val bytes = Codec.encode(ps, score).map(_.bytes.length.toLong).sum
    // 1-byte gaps + 1-byte tf + 1-byte dl ≈ 3 bytes/posting
    assert(bytes < 4L * ps.length)
  }

  test("rejects unsorted postings") {
    val bad = Array(Codec.Posting(5, 1, 10), Codec.Posting(5, 2, 10))
    assertThrows[IllegalArgumentException](Codec.encode(bad, score))
  }
}
