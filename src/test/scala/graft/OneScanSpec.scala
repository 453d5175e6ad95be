package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{GraftIndex, IndexBuilder, IndexConfig, PostingBlockRow, TermStatRow}
import graft.operators.Select
import graft.query.{MatchMode, ScoreMode}
import graft.streaming.IncrementalIndex

/** A select under the small-query cap is one bounded collect of its terms'
  * pruned block scan: the term stats, the kernel input, the page and nHits
  * all come from it. Over random small corpora (clean, three appended
  * segments, deletes with upserts, sectioned) the stats it yields must
  * equal the dictionary's sums on a clean index and the exact live
  * aggregate under tombstones, and pages, scores and nHits must not depend
  * on the cap: 0 (distributed), a tiny cap the scan passes, the scan's
  * exact size (a task passes its share, the whole scan fits), or the
  * default. Whatever the cap, the collect ships at most the cap's postings
  * to the driver, however many partitions the scan has. */
class OneScanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val capKey = "spark.graft.smallQueryMaxPostings"
  private val defaultCap = GraftIndex.DefaultSmallQueryMaxPostings
  private def withCap[A](cap: Long)(f: => A): A = {
    val old = spark.conf.getOption(capKey)
    spark.conf.set(capKey, cap.toString)
    try f finally old.foreach(spark.conf.set(capKey, _))
  }

  /** letters only: the default analyzer splits a letter-digit run */
  private val vocab = (0 until 40).map(i => s"w${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
  private def w(i: Int): String = vocab(i)
  /** `n` docs from id `from`: 3-12 words each, head words far more common */
  private def texts(rnd: scala.util.Random, n: Int, from: Long): Seq[(Long, String)] =
    (0 until n).map { i =>
      val words = Seq.fill(3 + rnd.nextInt(10))(
        vocab(math.min(vocab.size - 1, (math.abs(rnd.nextGaussian()) * 8).toInt)))
      (from + i, words.mkString(" "))
    }

  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft-onescan").toString
  private val cfg = IndexConfig(bucketBits = 5)

  private lazy val cleanPath: String = {
    val p = s"$tmp/clean"
    IndexBuilder.build(spark, texts(new scala.util.Random(11), 400, 0L).toDF("doc_id", "text"),
      "doc_id", "text", p, cfg)
    p
  }
  /** a base and three appended segments */
  private lazy val appendedPath: String = {
    val p = s"$tmp/appended"
    val rnd = new scala.util.Random(12)
    IndexBuilder.build(spark, texts(rnd, 200, 0L).toDF("doc_id", "text"), "doc_id", "text", p, cfg)
    for (k <- 1 to 3)
      IncrementalIndex.appendSegment(spark, p,
        texts(rnd, 100, 100L + 100L * k).toDF("doc_id", "text"), "doc_id", "text", s"seg-$k", cfg)
    p
  }
  /** deletes, a resurrected id and replaced docs: two data segments and
    * two tombstone segments */
  private lazy val tombstonedPath: String = {
    val p = s"$tmp/tombstoned"
    val rnd = new scala.util.Random(13)
    IndexBuilder.build(spark, texts(rnd, 300, 0L).toDF("doc_id", "text"), "doc_id", "text", p, cfg)
    IncrementalIndex.delete(spark, p, Seq(3L, 40L, 77L, 150L, 299L))
    IncrementalIndex.upsert(spark, p,
      (texts(rnd, 3, 0L).map(_._2) zip Seq(77L, 120L, 200L)).map(_.swap).toDF("doc_id", "text"),
      "doc_id", "text", "ups-1", cfg)
    p
  }
  private lazy val sectionedPath: String = {
    val p = s"$tmp/sectioned"
    val rnd = new scala.util.Random(14)
    val rows = texts(rnd, 300, 0L).zip(texts(rnd, 300, 0L)).map { case ((id, t), (_, b)) =>
      (id, t.split(' ').take(3).mkString(" "), b)
    }
    IndexBuilder.buildSectioned(spark, rows.toDF("doc_id", "title", "body"), "doc_id",
      Seq("title", "body"), p, cfg)
    p
  }
  private lazy val corpora = Seq(cleanPath, appendedPath, tombstonedPath, sectionedPath)

  private val statTerms = vocab :+ "zzznosuchterm"
  /** the OR whose scan the tiny cap is cut for */
  private val orTerms = Seq(w(3), w(7), w(12))
  private val orQuery = orTerms.mkString(" OR ")
  private val queries = Seq(
    s"${w(0)} ${w(1)}" -> ScoreMode.Tf,
    orQuery -> ScoreMode.Bm25(),
    s"${w(2)} OR ${w(30)}" -> ScoreMode.Bm25(),
    ("\"" + w(0) + " " + w(1) + "\"") -> ScoreMode.Bm25(),
    s"${w(0)} zzznosuchterm" -> ScoreMode.Tf,
    // mixed trees: under a cap two driver results are joined, unioned and
    // anti-joined in one plan
    (s"${w(2)} " + "\"" + w(0) + " " + w(1) + "\"") -> ScoreMode.Bm25(),
    ("\"" + w(0) + " " + w(1) + "\" OR " + w(5)) -> ScoreMode.Tf,
    s"${w(0)} -${w(1)}" -> ScoreMode.Bm25())

  /** the stats the dictionary gives on a clean index (Σ df, Σ total_tf and
    * max max_tf over the segments' rows), and the exact live aggregate of
    * the decoded postings under tombstones (df = live postings, as a
    * rebuild's dictionary counts them) */
  private def reference(path: String): Map[String, TermStatRow] = {
    val idx = GraftIndex(spark, path)
    val rows =
      if (idx.tombstones.isEmpty)
        idx.terms.where($"term".isin(statTerms: _*)).groupBy($"term")
          .agg(sum($"df").as("df"), sum($"total_tf").as("total_tf"),
            max($"max_tf").as("max_tf"))
      else
        idx.decodedAlive(idx.postings.where($"term".isin(statTerms: _*)).as[PostingBlockRow])
          .groupBy($"term")
          .agg(count(lit(1)).as("df"), sum($"tf").cast("long").as("total_tf"),
            max($"tf").cast("int").as("max_tf"))
    rows.as[TermStatRow].collect().map(t => t.term -> t).toMap
  }

  /** postings per scan partition of `terms`' pruned blocks */
  private def postingsPerTask(path: String, terms: Seq[String]): Seq[Long] =
    GraftIndex(spark, path).postings.where($"term".isin(terms: _*)).select($"cnt").rdd
      .mapPartitions(it => Iterator(it.map(_.getInt(0).toLong).sum)).collect().toSeq

  /** the largest single task's postings of the OR's scan: every task fits
    * it, the whole scan does not */
  private def tinyCap(path: String): Long = {
    val perTask = postingsPerTask(path, orTerms)
    assert(perTask.count(_ > 0) >= 2 && perTask.sum > perTask.max, perTask)
    perTask.max
  }
  /** the OR scan's postings: the scan fits, but a task passes its share of
    * it, so the bounded collect gives up and the recount collects it */
  private def exactCap(path: String): Long = {
    val perTask = postingsPerTask(path, orTerms)
    assert(perTask.max > perTask.sum / perTask.size, perTask)
    perTask.sum
  }
  private def caps(path: String): Seq[Long] = Seq(0L, tinyCap(path), exactCap(path), defaultCap)

  private type Rows = Seq[(Long, Double)]
  /** (page, nHits) of every query, two pages each, over a fresh handle */
  private def pages(path: String, cap: Long): Seq[(Rows, Long)] = withCap(cap) {
    val idx = GraftIndex(spark, path) // the cap is read once per handle
    for {
      (q, score) <- queries
      (off, lim) <- Seq((0, 10), (2, -1))
    } yield {
      val req = Select.Request(q, score, offset = off, limit = lim)
      val matched = Select.matches(idx, req)
      val (page, nHits) = Select.page(matched, req)
      (page.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
        nHits.getOrElse(matched.count()))
    }
  }

  test("term stats from the block scan equal the dictionary's or the exact live ones") {
    for (path <- corpora) {
      val want = reference(path)
      assert(!want.contains("zzznosuchterm") && want.size >= 20, path)
      for (cap <- caps(path)) withCap(cap) {
        assert(GraftIndex(spark, path).termStats(statTerms) == want, s"$path, cap $cap")
        // the stats a search's own scan leaves in the cache
        for (ts <- Seq(statTerms, orTerms)) {
          val idx = GraftIndex(spark, path)
          idx.searchTerms(ts, MatchMode.Any)
          assert(idx.termStats(statTerms) == want, s"$path, cap $cap, after a search of $ts")
        }
      }
    }
  }

  test("pages, scores and nHits do not depend on the cap") {
    for (path <- corpora) {
      val want = pages(path, 0L)
      assert(want.exists(_._2 > 10L) && want.exists(_._2 == 0L), path)
      for (cap <- caps(path).tail) assert(pages(path, cap) == want, s"$path, cap $cap")
    }
  }

  test("the OR runs on the driver exactly when its whole scan fits the cap") {
    def driverPaged(idx: GraftIndex): Boolean = {
      val req = Select.Request(orQuery, ScoreMode.Bm25())
      Select.page(Select.matches(idx, req), req)._2.isDefined
    }
    for (path <- corpora; cap <- Seq(tinyCap(path), exactCap(path))) withCap(cap) {
      val fits = cap == exactCap(path)
      val idx = GraftIndex(spark, path)
      assert(driverPaged(idx) == fits, s"$path, cold, cap $cap")
      assert(driverPaged(idx) == fits, s"$path, warm, cap $cap")
    }
  }

  test("the bounded collect ships at most the cap's postings, however many partitions") {
    // blocks of 16 postings and 64 KB of payload; partition p holds `sizes(p)`
    def block(i: Int) = PostingBlockRow(s"t${i % 3}", i % 4, i, i * 16L, i * 16L + 15,
      16, 1, 1, 1, 16L, 65536, new Array[Byte](65536), 0)
    // partition p's blocks, read as they are
    def scan(sizes: Seq[Int]) = spark.sparkContext.parallelize(
      sizes.indices.map(p => (0 until sizes(p)).map(k => block(sizes.take(p).sum + k))),
      sizes.size).flatMap(identity)
    val read = (bs: Iterator[PostingBlockRow]) => bs
    val shipped = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) shipped.addAndGet(e.taskMetrics.resultSize)
    }
    def run(sizes: Seq[Int], cap: Long): (Option[Seq[Int]], Long) = {
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      shipped.set(0L)
      val r = GraftIndex.collectWithin(scan(sizes), read, cap)
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      (r.map(_.map(_.blk).toSeq), shipped.get())
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val even = Seq.fill(16)(4)
      val (all, full) = run(even, 1024L)
      assert(all == Some(0 until 64), "every task fits its share of 1024")
      assert(full > 64 * 65536, full)
      // every partition (64 postings) fits the cap of 256, all 16 do not:
      // each task passes its share of 16 and ships no payload
      val (none, overhead) = run(even, 256L)
      assert(none.isEmpty && overhead < 65536, s"$overhead bytes shipped for no block")
      // four one-block partitions fit their share and ship; the rest do not
      val (uneven, some) = run(Seq.fill(4)(1) ++ Seq.fill(12)(4), 256L)
      assert(uneven.isEmpty && some > 4 * 65536 && some < (256 / 16) * 65536, some)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
