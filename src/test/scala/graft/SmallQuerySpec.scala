package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.WebCorpus
import graft.index.{GraftIndex, IndexBuilder, IndexConfig}
import graft.query.{MatchMode, ScoreMode}
import graft.streaming.IncrementalIndex

/** The driver-side small-query kernel fast path must be RESULT-IDENTICAL
  * to the distributed path for every query shape (same kernel, different
  * execution site), engage only under the Σ-df cap, and plan as a
  * LocalRelation (no second stage). */
class SmallQuerySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val capKey = "spark.graft.smallQueryMaxPostings"
  private def withCap[A](cap: String)(f: => A): A = {
    val old = spark.conf.getOption(capKey)
    spark.conf.set(capKey, cap)
    try f finally old.foreach(spark.conf.set(capKey, _))
  }

  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft-smallq").toString
  private lazy val idxPath: String = {
    IndexBuilder.build(spark, WebCorpus.generate(spark, 2000, 4),
      "doc_id", "text", s"$tmp/idx", IndexConfig(bucketBits = 8))
    s"$tmp/idx"
  }
  private lazy val mutatedPath: String = {
    IndexBuilder.build(spark, WebCorpus.generate(spark, 1000, 4),
      "doc_id", "text", s"$tmp/idx-mut", IndexConfig(bucketBits = 8))
    IncrementalIndex.delete(spark, s"$tmp/idx-mut", Seq(3L, 77L, 500L))
    s"$tmp/idx-mut"
  }

  /** deletes, a resurrected id and replaced live docs: two data segments
    * and two tombstone segments */
  private lazy val upsertedPath: String = {
    val p = s"$tmp/idx-ups"
    IndexBuilder.build(spark, WebCorpus.generate(spark, 1000, 4),
      "doc_id", "text", p, IndexConfig(bucketBits = 8))
    IncrementalIndex.delete(spark, p, Seq(3L, 77L, 500L, 640L))
    import spark.implicits._
    IncrementalIndex.upsert(spark, p,
      Seq(77L -> "spark fulltext qqresurrected", 120L -> "spark crawl qqreplaced",
        900L -> "index crawl spark").toDF("doc_id", "text"),
      "doc_id", "text", "ups-1")
    p
  }

  private def scores(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq

  test("fast path is result-identical to the distributed path across query shapes") {
    // fresh handles per cap value (the cap is read once per handle)
    def runAll(path: String): Seq[Seq[(Long, Double)]] = {
      val idx = GraftIndex(spark, path)
      Seq(
        scores(idx.searchTerms(Seq("spark", "fulltext"), MatchMode.All, ScoreMode.Tf)),
        scores(idx.searchTerms(Seq("spark", "crawl"), MatchMode.Any, ScoreMode.Bm25())),
        scores(idx.topK(idx.searchTerms(Seq("index"), MatchMode.Any,
          ScoreMode.Bm25(), topK = 10), 10)),
        scores(idx.searchPhrase("spark fulltext search engine")))
    }
    val fast = withCap((1L << 18).toString)(runAll(idxPath))
    val dist = withCap("0")(runAll(idxPath))
    assert(fast == dist)
    assert(fast.forall(_.nonEmpty))
  }

  test("fast path applies tombstones exactly like the distributed path") {
    def run(path: String): Seq[(Long, Double)] = {
      val idx = GraftIndex(spark, path)
      scores(idx.searchTerms(Seq("spark"), MatchMode.Any, ScoreMode.Bm25()))
    }
    val fast = withCap((1L << 18).toString)(run(mutatedPath))
    val dist = withCap("0")(run(mutatedPath))
    assert(fast == dist)
    assert(!fast.exists(r => Seq(3L, 77L, 500L).contains(r._1)))
  }

  test("termStats are identical on both arms over deletes and upserts") {
    val terms = Seq("spark", "fulltext", "crawl", "index", "qqresurrected",
      "qqreplaced", "zzznosuchterm")
    def stats(cap: String) = withCap(cap) {
      GraftIndex(spark, upsertedPath).termStats(terms) // fresh handle per cap
    }
    val dist = stats("0")
    val fast = stats(GraftIndex.DefaultSmallQueryMaxPostings.toString)
    assert(fast == dist)
    assert(fast.keySet == terms.filterNot(_ == "zzznosuchterm").toSet)
    // the fast arm really ran: the terms' dictionary df fits the cap
    assert(fast.valuesIterator.map(_.df).sum <= GraftIndex.DefaultSmallQueryMaxPostings)
    // only the upserted text carries these, in the newest segment
    assert(fast("qqresurrected").df == 1L && fast("qqreplaced").df == 1L)
  }

  test("under the cap the result plans as a LocalRelation; over it, a scan") {
    val plan = withCap((1L << 18).toString) {
      GraftIndex(spark, idxPath)
        .searchTerms(Seq("spark"), MatchMode.Any, ScoreMode.Tf)
        .queryExecution.executedPlan.toString
    }
    assert(plan.contains("LocalTableScan") || plan.contains("LocalRelation"),
      s"expected driver-side result, got:\n$plan")
    // a cap of 1 posting forces every real query distributed
    val plan2 = withCap("1") {
      GraftIndex(spark, idxPath)
        .searchTerms(Seq("spark"), MatchMode.Any, ScoreMode.Tf)
        .queryExecution.executedPlan.toString
    }
    assert(plan2.contains("postings"), s"expected a postings scan, got:\n$plan2")
  }
}
