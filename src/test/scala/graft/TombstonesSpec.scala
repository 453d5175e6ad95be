package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.WebCorpus
import graft.index.{GraftIndex, IndexBuilder, IndexConfig, PostingBlockRow, SegmentCatalog}
import graft.query.{MatchMode, ScoreMode}
import graft.streaming.IncrementalIndex

/** The forms of the tombstone liveness rule — the array predicate
  * (TombstoneSet.isLive), the block rule every postings reader goes
  * through (TombstoneSet.liveBlock) and the DataFrame filter
  * (Tombstones.live) — keep exactly the same postings and docs on an index
  * with deletes, a resurrected id and replaced docs. The
  * rule needs each row's segment ordinal, which the one-scan table reads
  * take from the file a row came from; the read rules for legacy segments
  * (no max_gtf column, no terms_rev table) are checked here too. */
class TombstonesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val deleted = Seq(5L, 40L, 41L, 199L)
  private val upserted = Seq(40L -> "spark qqback from the dead", 60L -> "crawl qqrewritten")

  private lazy val idx: GraftIndex = {
    val p = java.nio.file.Files.createTempDirectory("graft-tomb").toString + "/idx"
    IndexBuilder.build(spark, WebCorpus.generate(spark, 200, 4),
      "doc_id", "text", p, IndexConfig(bucketBits = 5))
    IncrementalIndex.delete(spark, p, deleted)
    IncrementalIndex.upsert(spark, p, upserted.toDF("doc_id", "text"),
      "doc_id", "text", "ups-1")
  }

  /** every decoded posting as (term, doc_id, seg_ord), tombstones ignored */
  private lazy val allPostings: Seq[(String, Long, Int)] =
    idx.postings.as[PostingBlockRow].collect().toSeq.flatMap { b =>
      val d = graft.codec.PostingCodec.decode(b.payload)
      d.docIds.toSeq.map(doc => (b.term, doc, b.seg_ord))
    }

  test("array predicate and DataFrame filter keep the same postings") {
    val set = idx.tombstones.set
    val byArray = allPostings.filter { case (_, doc, seg) => set.isLive(doc, seg) }
    val byFrame = idx.tombstones.live(allPostings.toDF("term", "doc_id", "seg_ord"))
      .select($"term", $"doc_id", $"seg_ord").as[(String, Long, Int)].collect().toSeq
    assert(byArray.sorted == byFrame.sorted)
    // the rule did work: old generations of deleted and upserted docs are
    // dropped, the upserted generation of 40 and 60 survives
    assert(byArray.size < allPostings.size)
    val liveDocs = byArray.map(_._2).toSet
    assert(!liveDocs.contains(5L) && !liveDocs.contains(199L))
    assert(byArray.filter(_._2 == 40L).forall(_._3 == 1))
    assert(byArray.exists(p => p._1 == "qqback" && p._2 == 40L))
    assert(!byArray.exists(p => p._2 == 60L && p._3 == 0))
  }

  test("liveBlock keeps exactly the live postings of each block, with exact headers") {
    val set = idx.tombstones.set
    val blocks = idx.postings.as[PostingBlockRow].collect()
    var rebuilt = 0
    blocks.foreach { b =>
      val d = graft.codec.PostingCodec.decode(b.payload)
      val want = d.docIds.indices.filter(i => set.isLive(d.docIds(i), b.seg_ord))
      set.liveBlock(b) match {
        case None => assert(want.isEmpty, s"${b.term} blk ${b.blk}")
        case Some(l) if !set.hidesAnyIn(b.min_doc, b.max_doc, b.seg_ord) =>
          assert(l.eq(b) && want.size == d.count, s"untouched ${b.term} blk ${b.blk}")
        case Some(l) =>
          rebuilt += 1
          val ld = graft.codec.PostingCodec.decode(l.payload)
          assert(ld.docIds.toSeq == want.map(d.docIds(_)) && ld.tfs.toSeq == want.map(d.tfs(_)))
          assert(ld.positions.toSeq == want.flatMap { i =>
            val from = d.tfs.take(i).sum
            d.positions.slice(from, from + d.tfs(i)).toSeq
          })
          assert((l.term, l.bucket, l.blk, l.seg_ord) == (b.term, b.bucket, b.blk, b.seg_ord))
          assert((l.min_doc, l.max_doc, l.cnt, l.payload_len) ==
            (ld.docIds.head, ld.docIds.last, ld.count, l.payload.length))
          assert((l.max_tf, l.max_gtf, l.tf_sum, l.min_dl) ==
            (ld.tfs.max, ld.tfs.max, ld.tfs.map(_.toLong).sum, ld.dls.min))
      }
    }
    assert(rebuilt > 0, "some block must be touched by a tombstone")
    // the Dataset form applies the same rule in the tasks
    def key(bs: Seq[PostingBlockRow]) =
      bs.map(b => (b.term, b.seg_ord, b.blk, b.min_doc, b.cnt, b.payload.toSeq))
        .sortBy(k => (k._1, k._2, k._3, k._4))
    assert(key(idx.tombstones.liveBlocks(idx.postings.as[PostingBlockRow]).collect().toSeq) ==
      key(blocks.toSeq.flatMap(set.liveBlock)))
  }

  test("array predicate and DataFrame filter keep the same docs") {
    val set = idx.tombstones.set
    // raw docs rows per data segment, seg_ord = manifest order
    val rawDocs: Seq[(Long, Int)] = idx.meta.segments.zipWithIndex.flatMap {
      case (s, i) =>
        val dir = if (s == ".") s"${idx.path}/docs" else s"${idx.path}/$s/docs"
        spark.read.parquet(dir).select($"doc_id").as[Long].collect().map(_ -> i)
    }
    val byArray = rawDocs.filter { case (doc, seg) => set.isLive(doc, seg) }.map(_._1)
    val byFrame = idx.docs.select($"doc_id").as[Long].collect().toSeq
    assert(byArray.sorted == byFrame.sorted)
    val want = ((0L until 200L).toSet -- deleted) ++ upserted.map(_._1)
    assert(byFrame.toSet == want && byFrame.size == want.size)
    assert(idx.meta.nDocs == want.size.toLong)
  }

  test("the DataFrame filter reads no delete segment and adds no join") {
    // the delete segments are read once per snapshot, into `set`; the
    // Catalyst form evaluates that same table instead of re-reading them
    for (plan <- Seq(idx.docs, idx.decodedPostings)
        .map(_.queryExecution.executedPlan.toString)) {
      assert(!plan.contains("Join"), plan)
      idx.meta.deleteSegments.foreach(s => assert(!plan.contains(s), plan))
    }
  }

  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft-tomb").toString

  /** base + appended + upserted segment with deletes, under a dir whose
    * name holds a space (file URIs spell it %20) */
  private lazy val spaced: GraftIndex = {
    val p = java.nio.file.Files.createTempDirectory("graft tomb").toString + "/idx"
    val all = WebCorpus.generate(spark, 250, 4)
    IndexBuilder.build(spark, all.where($"doc_id" < 200), "doc_id", "text", p,
      IndexConfig(bucketBits = 5))
    IncrementalIndex.appendSegment(spark, p, all.where($"doc_id" >= 200),
      "doc_id", "text", "seg-a", IndexConfig(bucketBits = 5))
    IncrementalIndex.delete(spark, p, Seq(5L, 210L))
    IncrementalIndex.upsert(spark, p,
      Seq(40L -> "spark qqback again", 260L -> "crawl qqnew").toDF("doc_id", "text"),
      "doc_id", "text", "ups-1")
  }

  test("every postings and docs row carries its segment's manifest ordinal") {
    val idx = spaced
    assert(idx.path.contains(" ") && idx.meta.dataSegments == Seq(".", "seg-a", "ups-1"))
    def perSegment[T](table: String)(rows: org.apache.spark.sql.DataFrame => Array[T]) =
      idx.meta.dataSegments.zipWithIndex.flatMap { case (s, i) =>
        rows(spark.read.parquet(s"${SegmentCatalog.segmentDir(idx.path, s)}/$table")).map(_ -> i)
      }
    val blockKey = Seq($"term", $"bucket", $"blk", $"min_doc")
    val postingsBySeg = perSegment("postings")(
      _.select(blockKey: _*).as[(String, Int, Int, Long)].collect())
    val postings = idx.postings.select(blockKey :+ $"seg_ord": _*)
      .as[(String, Int, Int, Long, Int)].collect().map(r => (r._1, r._2, r._3, r._4) -> r._5)
    assert(postings.toSeq.sorted == postingsBySeg.sorted)
    assert(postings.map(_._2).toSet == Set(0, 1, 2))

    val set = idx.tombstones.set
    val liveBySeg = perSegment("docs")(_.select($"doc_id").as[Long].collect())
      .filter { case (doc, seg) => set.isLive(doc, seg) }
    val docs = idx.segDocs.select($"doc_id", $"seg_ord").as[(Long, Int)].collect()
    assert(docs.toSeq.sorted == liveBySeg.sorted)
    assert(docs.filter(d => d._1 == 40L || d._1 == 260L).sorted.toSeq == Seq(40L -> 2, 260L -> 2))
    assert(!docs.exists(d => d._1 == 5L || d._1 == 210L))
  }

  test("a postings table without max_gtf reads max_tf sid-less and -1 sectioned") {
    val all = WebCorpus.generate(spark, 120, 2).withColumn("title", $"text")
    for (sectioned <- Seq(false, true)) {
      val p = s"$tmp/gtf-$sectioned"
      val cfg = IndexConfig(bucketBits = 5)
      IndexBuilder.buildSectioned(spark, all.where($"doc_id" < 80), "doc_id",
        if (sectioned) Seq("title", "text") else Seq("text"), p, cfg)
      IncrementalIndex.appendSegment(spark, p, all.where($"doc_id" >= 80),
        "doc_id", "text", "seg-1", cfg)
      val query = Seq(WebCorpus.word(0), WebCorpus.word(3))
      def top(idx: GraftIndex) =
        idx.searchTerms(query, MatchMode.Any, ScoreMode.Bm25(), topK = 10).collect().toSeq
      val before = top(GraftIndex(spark, p))
      // rewrite seg-1's postings as a writer before format 2 left them
      val dir = s"$p/seg-1/postings"
      java.nio.file.Files.move(java.nio.file.Paths.get(dir), java.nio.file.Paths.get(s"$dir-v2"))
      spark.read.parquet(s"$dir-v2").drop("max_gtf").write.parquet(dir)
      assert(!spark.read.parquet(dir).columns.contains("max_gtf"))
      val idx = GraftIndex(spark, p)
      val rows = idx.postings.select($"seg_ord", $"max_tf", $"max_gtf").as[(Int, Int, Int)].collect()
      val (legacy, current) = rows.partition(_._1 == 1)
      assert(legacy.nonEmpty && current.nonEmpty)
      assert(legacy.forall(r => r._3 == (if (sectioned) -1 else r._2)), s"sectioned=$sectioned")
      assert(current.forall(r => r._3 >= r._2), s"sectioned=$sectioned")
      assert(top(idx) == before, s"sectioned=$sectioned")
    }
  }

  test("segments without terms_rev expand suffixes like segments with it") {
    val p = s"$tmp/no-rev"
    val all = WebCorpus.generate(spark, 150, 2)
    IndexBuilder.build(spark, all.where($"doc_id" < 100), "doc_id", "text", p)
    IncrementalIndex.appendSegment(spark, p, all.where($"doc_id" >= 100),
      "doc_id", "text", "seg-1")
    val suffixes = Seq("ka", "to", "mi", "zen", "lin", "qqnone")
    val withRev = GraftIndex(spark, p)
    val expected = suffixes.map(withRev.expandSuffix(_))
    assert(expected.count(_.nonEmpty) >= 4)
    // a segment written before terms_rev existed
    val fs = SegmentCatalog.fileSystem(spark, p)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$p/seg-1/terms_rev"), true))
    val noRev = GraftIndex(spark, p)
    assert(suffixes.map(noRev.expandSuffix(_)) == expected)
    assert(noRev.termsRev.columns.toSeq == withRev.termsRev.columns.toSeq)
    assert(noRev.termsRev.count() == noRev.terms.count())
  }

  test("a fold scans only its run's segment dirs") {
    val (blocks, docs) = IncrementalIndex.foldInput(spaced, Seq(1, 2))
    for (scan <- Seq(blocks.toDF(), docs)) {
      val segs = scan.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getParent.getParent.getName)
      assert(segs.toSet == Set("seg-a", "ups-1"), scan.inputFiles.mkString(", "))
    }
  }
}
