package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.WebCorpus
import graft.index.{GraftIndex, IndexBuilder, IndexConfig}
import graft.operators.Select
import graft.query.ScoreMode
import graft.streaming.IncrementalIndex

/** `Select.page` over one `Select.matches` set gives the page and nHits, as
  * the HTTP select takes them; under the small-query cap the page is sorted
  * on the driver. Both kernel sites must return exactly the page and nHits
  * that Spark's own sort gives: `select(limit = -1)` plus `count()` on the
  * distributed path. */
class SelectPageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val capKey = "spark.graft.smallQueryMaxPostings"
  private val defaultCap = GraftIndex.DefaultSmallQueryMaxPostings.toString
  private def withCap[A](cap: String)(f: => A): A = {
    val old = spark.conf.getOption(capKey)
    spark.conf.set(capKey, cap)
    try f finally old.foreach(spark.conf.set(capKey, _))
  }

  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft-selhits").toString
  private lazy val cleanPath: String = {
    IndexBuilder.build(spark, WebCorpus.generate(spark, 600, 4),
      "doc_id", "text", s"$tmp/idx", IndexConfig(bucketBits = 6))
    s"$tmp/idx"
  }
  /** deletes, a resurrected id and replaced docs: two data segments and
    * two tombstone segments */
  private lazy val mutatedPath: String = {
    val p = s"$tmp/idx-mut"
    IndexBuilder.build(spark, WebCorpus.generate(spark, 600, 4),
      "doc_id", "text", p, IndexConfig(bucketBits = 6))
    IncrementalIndex.delete(spark, p, Seq(3L, 77L, 500L, 540L))
    import spark.implicits._
    IncrementalIndex.upsert(spark, p,
      Seq(77L -> "spark fulltext qqresurrected", 120L -> "spark crawl",
        590L -> "index crawl spark").toDF("doc_id", "text"),
      "doc_id", "text", "ups-1")
    p
  }

  private val queries = Seq(
    "spark fulltext" -> ScoreMode.Tf, // AND
    "spark OR crawl OR index" -> ScoreMode.Bm25(), // OR
    "\"spark fulltext search engine\"" -> ScoreMode.Tf, // phrase
    "spark zzznosuchterm" -> ScoreMode.Tf, // empty
    "spark OR \"fulltext search\"" -> ScoreMode.Bm25()) // mixed OR: never a LocalRelation
  private val sortKeys = Seq("+_id", "-_score, +_id")
  /** (offset, limit): a page, a middle page, past the end, empty, unbounded */
  private val pages = Seq((0, 10), (3, 5), (100000, 10), (0, 0), (2, -1))

  private type Rows = Seq[(Long, Double)]
  private def rows(df: org.apache.spark.sql.DataFrame): Rows =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** (page, nHits) per query x sort keys x page, over a fresh handle */
  private def runAll(path: String, cap: String)(
      f: (GraftIndex, Select.Request) => (Rows, Long)): Seq[(Rows, Long)] =
    withCap(cap) {
      val idx = GraftIndex(spark, path) // the cap is read once per handle
      for {
        (q, score) <- queries
        s <- sortKeys
        (off, lim) <- pages
      } yield f(idx, Select.Request(q, score, Select.parseSortKeys(s), off, lim))
    }

  /** pages cut from Spark's own sort of the whole match set, distributed */
  private def expected(path: String): Seq[(Rows, Long)] = {
    val all = scala.collection.mutable.Map.empty[(String, Seq[(String, Boolean)]), Rows]
    runAll(path, "0") { (idx, req) =>
      val sorted = all.getOrElseUpdate((req.query, req.sortKeys),
        rows(Select.select(idx, req.copy(offset = 0, limit = -1))))
      val page = sorted.drop(req.offset)
      (if (req.limit >= 0) page.take(req.limit) else page, sorted.size.toLong)
    }
  }

  private def viaPage(path: String, cap: String): Seq[(Rows, Long)] =
    runAll(path, cap) { (idx, req) =>
      val matched = Select.matches(idx, req)
      val (page, nHits) = Select.page(matched, req)
      (rows(page), nHits.getOrElse(matched.count()))
    }

  private def checkBothCaps(path: String): Unit = {
    val want = expected(path)
    assert(want.exists(_._2 > 10L), "no query matched more than a page")
    assert(want.exists(_._2 == 0L), "no empty query")
    // TF scores tie often: the -_score order needs its +_id tie-break
    assert(want.exists { case (r, _) => r.map(_._2).distinct.size < r.size })
    assert(viaPage(path, "0") == want)
    assert(viaPage(path, defaultCap) == want)
  }

  test("under the default cap AND, OR, phrase and empty queries give nHits for free") {
    for (path <- Seq(cleanPath, mutatedPath)) withCap(defaultCap) {
      val idx = GraftIndex(spark, path)
      val free = queries.map { case (q, score) =>
        val req = Select.Request(q, score)
        q -> Select.page(Select.matches(idx, req), req)._2.isDefined
      }
      // the mixed OR still combines its legs through an aggregate
      assert(free == queries.map { case (q, _) => q -> (q != queries.last._1) }, path)
    }
  }

  test("page + nHits equal select(limit = -1) + count() on a clean index") {
    checkBothCaps(cleanPath)
  }

  test("page + nHits equal select(limit = -1) + count() over deletes and upserts") {
    checkBothCaps(mutatedPath)
  }
}
