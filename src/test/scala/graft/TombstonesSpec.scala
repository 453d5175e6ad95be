package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.WebCorpus
import graft.index.{GraftIndex, IndexBuilder, IndexConfig, PostingBlockRow}
import graft.streaming.IncrementalIndex

/** The two forms of the tombstone liveness rule — the array predicate
  * (TombstoneSet.isLive, typed and kernel code) and the DataFrame filter
  * (Tombstones.live, Catalyst code) — keep exactly the same postings and
  * docs on an index with deletes, a resurrected id and replaced docs. */
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
}
