package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

import graft.codec.PostingCodec
import graft.corpus.WebCorpus
import graft.index._

import BlockBuilderSpec.{P, Postings}

/** The one posting-block builder (BlockBuilder) against a naive model:
  * decode all, filter, stable-sort by (doc, sid), chunk without splitting a
  * doc's section group and recompute every header. Checked in each form
  * the engine calls it — the run merge of a build (IndexBuilder.mergeRuns),
  * the liveness filter (TombstoneSet.liveBlock) and the kernel's merge of
  * overlapping blocks (PostingBlockRow.rebuild) — and end to end: a build
  * that spills every doc, so every multi-doc group takes the decode-merge
  * path, writes the same postings table as a build that merges nothing. */
class BlockBuilderSpec extends AnyFunSuite {

  private def randomPostings(rnd: Random): Postings = {
    val sectioned = rnd.nextBoolean()
    val withPos = rnd.nextBoolean()
    val nDocs = 1 + rnd.nextInt(if (rnd.nextInt(4) == 0) 400 else 40)
    var doc = rnd.nextInt(1000).toLong
    val ps = (0 until nDocs).flatMap { _ =>
      doc += 1 + rnd.nextInt(if (rnd.nextBoolean()) 3 else 5000)
      val dl = 1 + rnd.nextInt(60)
      val sids = if (!sectioned) Seq(1) else (1 to 3).filter(_ => rnd.nextBoolean()) match {
        case Seq() => Seq(1 + rnd.nextInt(3))
        case s => s
      }
      sids.map { sid =>
        val tf = 1 + (if (rnd.nextInt(8) == 0) rnd.nextInt(30) else rnd.nextInt(3))
        P(doc, sid, tf, dl, Array.fill(tf)(rnd.nextInt(200)).sorted)
      }
    }
    Postings(ps, sectioned, withPos)
  }

  /** `ps` split into (doc, sid)-ordered runs whose doc ranges either are
    * disjoint (cut at doc boundaries) or interleave (postings dealt out at
    * random, a doc's sections possibly to different runs) */
  private def split(rnd: Random, ps: Seq[P]): Seq[Seq[P]] = {
    val k = 1 + rnd.nextInt(5)
    if (rnd.nextBoolean()) {
      val docs = ps.map(_.doc).distinct
      val cuts = Seq.fill(k - 1)(docs(rnd.nextInt(docs.length))).toSet
      val out = Seq.newBuilder[Seq[P]]
      var cur = Vector.empty[P]
      ps.foreach { p =>
        if (cuts(p.doc) && cur.nonEmpty && cur.last.doc != p.doc) { out += cur; cur = Vector.empty }
        cur :+= p
      }
      (out += cur).result()
    } else {
      val owner = ps.map(_ => rnd.nextInt(k))
      (0 until k).map(r => ps.zip(owner).collect { case (p, o) if o == r => p }).filter(_.nonEmpty)
    }
  }

  private def encode(ps: Seq[P], c: Postings): Array[Byte] =
    PostingCodec.encode(ps.map(_.doc).toArray, ps.map(_.tf).toArray, ps.map(_.dl).toArray,
      if (c.withPos) ps.map(_.pos).toArray else null,
      if (c.sectioned) ps.map(_.sid).toArray else null)

  private def naiveHeader(ps: Seq[P]): BlockHeader =
    BlockHeader(ps.head.doc, ps.last.doc, ps.length, ps.map(_.tf).max,
      ps.groupBy(_.doc).values.map(_.map(_.tf).sum).max, ps.map(_.dl).min,
      ps.map(_.tf.toLong).sum)

  private def decodeAll(payloads: Seq[Array[Byte]]): Seq[P] = payloads.flatMap { bytes =>
    val d = PostingCodec.decode(bytes)
    val starts = d.tfs.scanLeft(0)(_ + _)
    d.docIds.indices.map { i =>
      P(d.docIds(i), if (d.sids.isEmpty) 1 else d.sids(i), d.tfs(i), d.dls(i),
        if (d.positions.isEmpty) Array.emptyIntArray
        else d.positions.slice(starts(i), starts(i + 1)))
    }
  }

  /** the naive model of BlockBuilder.blocks, payload bytes as a Seq */
  private def naiveBlocks(payloads: Seq[Array[Byte]], keep: Long => Boolean, blockSize: Int,
      c: Postings): Seq[(BlockHeader, Seq[Byte])] = {
    val sorted = decodeAll(payloads).filter(p => keep(p.doc)).sortBy(p => (p.doc, p.sid))
    val out = Seq.newBuilder[(BlockHeader, Seq[Byte])]
    var rest = sorted
    while (rest.nonEmpty) {
      var len = math.min(blockSize, rest.length)
      while (len < rest.length && rest(len).doc == rest(len - 1).doc) len += 1
      val (chunk, tail) = rest.splitAt(len)
      out += naiveHeader(chunk) -> encode(chunk, c).toSeq
      rest = tail
    }
    out.result()
  }

  private def rowOf(b: PostingBlockRow) =
    (b.term, b.bucket, b.blk, b.min_doc, b.max_doc, b.cnt, b.max_tf, b.max_gtf, b.min_dl,
      b.tf_sum, b.payload_len, b.payload.toSeq, b.seg_ord)

  private def naiveRow(term: String, bucket: Int, blk: Int, h: BlockHeader, payload: Seq[Byte],
      segOrd: Int) =
    (term, bucket, blk, h.minDoc, h.maxDoc, h.cnt, h.maxTf, h.maxGtf, h.minDl, h.tfSum,
      payload.length, payload, segOrd)

  private val trials = 300

  test("blocks: random runs, keep filter and block size match the naive model") {
    val rnd = new Random(20261020L)
    var kept, dropped, multiBlock = 0
    (0 until trials).foreach { t =>
      val c = randomPostings(rnd)
      val payloads = rnd.shuffle(split(rnd, c.ps)).map(encode(_, c))
      val share = Seq(1.0, 0.7, 0.3, 0.0)(rnd.nextInt(4))
      val keep: Set[Long] = c.ps.map(_.doc).filter(_ => rnd.nextDouble() < share).toSet
      val blockSize = if (rnd.nextBoolean()) 1 + rnd.nextInt(12) else 128
      val got = BlockBuilder.blocks(payloads, keep, blockSize).map { case (h, p) => h -> p.toSeq }
      assert(got == naiveBlocks(payloads, keep, blockSize, c), s"trial $t")
      if (got.isEmpty) dropped += 1 else kept += 1
      if (got.length > 1) multiBlock += 1
    }
    // the trials reached every case: all kept, none kept, several blocks
    assert(kept > 0 && dropped > 0 && multiBlock > 0)
  }

  test("header: the headers of (doc, sid)-ordered postings") {
    val rnd = new Random(7L)
    (0 until trials).foreach { t =>
      val c = randomPostings(rnd)
      val h = BlockBuilder.header(c.ps.map(_.doc).toArray, c.ps.map(_.tf).toArray,
        c.ps.map(_.dl).toArray)
      assert(h == naiveHeader(c.ps), s"trial $t")
      if (!c.sectioned) assert(h.maxGtf == h.maxTf)
    }
  }

  test("mergeRuns: every (term, bucket) group re-chunked from 0, lone small runs as they are") {
    val rnd = new Random(11L)
    (0 until trials).foreach { t =>
      val blockSize = if (rnd.nextBoolean()) 1 + rnd.nextInt(12) else 128
      val groups = (0 until 1 + rnd.nextInt(3)).map { g =>
        val c = randomPostings(rnd)
        (s"t$g", rnd.nextInt(4), c, split(rnd, c.ps).sortBy(_.head.doc))
      }
      // a legacy run (max_gtf < 0) must be re-headered, never passed on
      val legacy = rnd.nextInt(5) == 0
      val runs = groups.flatMap { case (term, bucket, c, rs) =>
        rs.map { r =>
          val h = naiveHeader(r)
          PostingRunRow(term, bucket, if (legacy) h.copy(maxGtf = -1) else h, encode(r, c))
        }
      }
      val got = IndexBuilder.mergeRuns(IndexConfig(blockSize = blockSize))(runs.iterator)
        .map(rowOf).toSeq
      val want = groups.flatMap { case (term, bucket, c, rs) =>
        naiveBlocks(rs.map(encode(_, c)), _ => true, blockSize, c).zipWithIndex.map {
          case ((h, p), blk) => naiveRow(term, bucket, blk, h, p, 0)
        }
      }
      assert(got == want, s"trial $t")
    }
  }

  test("rebuild and liveBlock: one unbounded block with the first block's identity") {
    val rnd = new Random(13L)
    var touched = 0
    (0 until trials).foreach { t =>
      val c = randomPostings(rnd)
      val segOrd = rnd.nextInt(3)
      val blocks = split(rnd, c.ps).sortBy(_.head.doc).zipWithIndex.map { case (r, i) =>
        PostingBlockRow("w", 2, 5 + i, naiveHeader(r), encode(r, c), segOrd)
      }.toArray
      // the kernel's overlap merge: every posting kept
      val merged = PostingBlockRow.rebuild(blocks).map(rowOf)
      val all = naiveBlocks(blocks.map(_.payload).toSeq, _ => true, Int.MaxValue, c)
      assert(all.length == 1)
      assert(merged == all.headOption.map { case (h, p) => naiveRow("w", 2, 5, h, p, segOrd) },
        s"trial $t")
      // the liveness filter over one block of the trial's postings
      val b = PostingBlockRow("w", 2, 5, naiveHeader(c.ps), encode(c.ps, c), segOrd)
      val docs = c.ps.map(_.doc).distinct
      val dead = docs.filter(_ => rnd.nextInt(3) == 0)
      val set = TombstoneSet(dead.toArray, dead.map(_ => rnd.nextInt(4)).toArray)
      val want =
        if (!set.hidesAnyIn(b.min_doc, b.max_doc, segOrd)) Some(rowOf(b))
        else {
          touched += 1
          naiveBlocks(Seq(b.payload), set.isLive(_, segOrd), Int.MaxValue, c).headOption.map {
            case (h, p) => naiveRow("w", 2, 5, h, p, segOrd)
          }
        }
      assert(set.liveBlock(b).map(rowOf) == want, s"trial $t")
    }
    assert(touched > 0)
  }

  private lazy val spark = TestSpark.spark

  /** the postings table of `idx`, every header and payload, in key order */
  private def postingsOf(idx: GraftIndex) = {
    import spark.implicits._
    idx.postings.as[PostingBlockRow].collect().map(rowOf).toSeq
      .sortBy(r => (r._1, r._2, r._3))
  }

  /** the runs the build at `path` spilled, from its manifest's metrics */
  private def spilledRuns(path: String): Long = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val mf = new java.io.File(path).listFiles()
      .filter(_.getName.matches("manifest-\\d+\\.json")).maxBy(_.getName)
    val j = org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8"))
    (j \ "metrics" \ "spilledRuns").extract[String].toLong
  }

  Seq(false, true).foreach { sectioned =>
    test(s"a build that spills every doc writes the same postings table (sectioned=$sectioned)") {
      val tmp = java.nio.file.Files.createTempDirectory("graft-spill").toString
      val docs = WebCorpus.generate(spark, 600, 3, seed = 5L)
      val cols = if (sectioned) Seq("url", "text") else Seq("text")
      val cfg = IndexConfig(bucketBits = 8, blockSize = 16, withPositions = true)
      def build(name: String, spill: Int) = {
        val p = s"$tmp/$name"
        (IndexBuilder.buildSectioned(spark, docs, "doc_id", cols, p, cfg.copy(spillPostings = spill)),
          spilledRuns(p))
      }
      val (merged, nMerged) = build("spill-default", cfg.spillPostings)
      val (spilled, nSpilled) = build("spill-1", 1)
      // at 1 every doc is its own run: several times the runs to merge
      assert(nSpilled > 2 * nMerged, s"$nSpilled runs vs $nMerged")
      val a = postingsOf(merged)
      assert(a.nonEmpty && a.exists(_._3 > 0))
      assert(a.exists(r => PostingCodec.decode(r._12.toArray).positions.nonEmpty))
      assert(sectioned == a.exists(r => PostingCodec.decode(r._12.toArray).sids.nonEmpty))
      assert(a == postingsOf(spilled))
    }
  }
}

object BlockBuilderSpec {
  final case class P(doc: Long, sid: Int, tf: Int, dl: Int, pos: Array[Int])

  /** one random corpus: postings (doc, sid)-ordered, and their flags */
  final case class Postings(ps: Seq[P], sectioned: Boolean, withPos: Boolean)
}
