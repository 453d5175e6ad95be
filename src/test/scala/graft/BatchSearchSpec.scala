package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.WebCorpus
import graft.index.{GraftIndex, IndexBuilder, IndexConfig}
import graft.query.{MatchMode, ScoreMode}

/** searchTermsBatch ≡ per-query searchTerms, across match/score modes,
  * unknown-term and empty-query edge cases, and both kernel paths
  * (distributed + the driver small-query fast path). */
class BatchSearchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val idx: GraftIndex = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-batch").toString
    IndexBuilder.build(spark, WebCorpus.generate(spark, 600, 4),
      "doc_id", "text", s"$tmp/idx", IndexConfig(bucketBits = 6))
  }

  private val batch = Seq(
    Seq("spark", "fulltext"), Seq("crawl"), Seq("zzznosuchterm"),
    Seq("spark", "zzznosuchterm"), Seq("spark", "spark"), Seq.empty)

  private def collectBatch(ix: GraftIndex, mode: MatchMode, score: ScoreMode) =
    ix.searchTermsBatch(batch, mode, score)
      .as[(Int, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).sortBy(_._1).toSeq).toMap

  private def single(ix: GraftIndex, q: Seq[String], mode: MatchMode, score: ScoreMode) =
    ix.searchTerms(q, mode, score)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq

  test("batch equals per-query results for Any/Tf and All/Bm25 (distributed kernel)") {
    for ((mode, score) <- Seq(
        (MatchMode.Any, ScoreMode.Tf), (MatchMode.All, ScoreMode.Bm25()))) {
      val got = collectBatch(idx, mode, score)
      batch.zipWithIndex.foreach { case (q, qid) =>
        assert(got.getOrElse(qid, Nil) == single(idx, q, mode, score),
          s"mode=$mode qid=$qid")
      }
    }
  }

  test("batch equals per-query on the driver fast path, and per-query topK bounds each query") {
    idx.meta // force build before touching the conf
    spark.conf.set("spark.graft.smallQueryMaxPostings", "1000000")
    try {
      val fast = GraftIndex(spark, idx.path) // fresh handle: re-reads the cap
      val got = collectBatch(fast, MatchMode.Any, ScoreMode.Bm25())
      batch.zipWithIndex.foreach { case (q, qid) =>
        assert(got.getOrElse(qid, Nil) == single(fast, q, MatchMode.Any, ScoreMode.Bm25()),
          s"fast qid=$qid")
      }
      val k = 3
      val top = fast.topKPerQuery(
        fast.searchTermsBatch(batch, MatchMode.Any, ScoreMode.Bm25(), topK = k), k)
        .as[(Int, Long, Double)].collect().groupBy(_._1)
      top.foreach { case (qid, rows) => assert(rows.length <= k, s"qid=$qid") }
      // rank identity vs the single-query reference top-k
      val want = fast.topK(
        fast.searchTerms(batch.head, MatchMode.Any, ScoreMode.Bm25(), topK = k), k)
        .as[(Long, Double)].collect().toSeq
      val gotTop = top(0).sortBy(r => (-r._3, r._2)).map(r => (r._2, r._3)).toSeq
      assert(gotTop == want)
    } finally spark.conf.set("spark.graft.smallQueryMaxPostings", "0")
  }

  test("batch respects tombstones: equals per-query on a mutated index") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-batch-mut").toString
    IndexBuilder.build(spark, WebCorpus.generate(spark, 400, 4),
      "doc_id", "text", s"$tmp/idx", IndexConfig(bucketBits = 6))
    graft.streaming.IncrementalIndex.delete(spark, s"$tmp/idx",
      (0L until 400L by 7L).toSeq)
    // both kernel sites: distributed (cap 0) and the driver fast path
    val perCap = for (cap <- Seq("0", "1000000")) yield {
      spark.conf.set("spark.graft.smallQueryMaxPostings", cap)
      try {
        val mut = GraftIndex(spark, s"$tmp/idx") // fresh handle: re-reads the cap
        val got = collectBatch(mut, MatchMode.Any, ScoreMode.Bm25())
        batch.zipWithIndex.foreach { case (q, qid) =>
          val want = single(mut, q, MatchMode.Any, ScoreMode.Bm25())
          assert(got.getOrElse(qid, Nil) == want, s"cap=$cap mut qid=$qid")
          assert(want.forall(_._1 % 7 != 0))
        }
        got
      } finally spark.conf.set("spark.graft.smallQueryMaxPostings", "0")
    }
    assert(perCap(0) == perCap(1))
    assert(perCap(0).values.exists(_.nonEmpty))
  }
}
