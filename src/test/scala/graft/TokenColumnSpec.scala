package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.corpus.WebCorpus
import graft.index.{GraftIndex, IndexBuilder, IndexConfig, TokenColumn}
import graft.query.{MatchMode, ScoreMode}

/** Token column (pre-tokenized cache): an index built FROM the persisted
  * token stream must be indistinguishable from one built over the text —
  * across stats, match modes, phrase positions and physical re-parameterization. */
class TokenColumnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft-tokcol").toString
  private val cfg = IndexConfig(tokenizer = "TokenBigram", bucketBits = 6)

  private def scores(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** the two index dirs hold the same rows in every table the writer writes */
  private def assertSameRows(a: String, b: String): Unit =
    for (t <- Seq("postings", "terms", "terms_rev", "docs")) {
      val x = spark.read.parquet(s"$a/$t")
      val y = spark.read.parquet(s"$b/$t").select(x.columns.map(col): _*)
      assert(x.count() == y.count() && x.count() > 0, t)
      assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty, t)
    }

  test("token-column build equals a direct build (single column)") {
    val docs = WebCorpus.generate(spark, 300, 4)
    val direct = IndexBuilder.build(spark, docs, "doc_id", "text", s"$tmp/direct", cfg)
    TokenColumn.write(spark, docs, "doc_id", Seq("text"), s"$tmp/tok", cfg.tokenizer)
    val fromTok = TokenColumn.buildIndex(spark, s"$tmp/tok", s"$tmp/fromtok", cfg)

    assert(fromTok.meta.nDocs == direct.meta.nDocs)
    assert(math.abs(fromTok.meta.avgdl - direct.meta.avgdl) < 1e-9)
    assert(fromTok.meta.totalPostings == direct.meta.totalPostings)
    assert(fromTok.meta.tokenizer == direct.meta.tokenizer)

    for ((terms, mode, score) <- Seq(
        (Seq("spark", "fulltext"), MatchMode.All, ScoreMode.Tf: ScoreMode),
        (Seq("spark", "crawl"), MatchMode.Any, ScoreMode.Bm25(): ScoreMode))) {
      val a = scores(direct.searchTerms(terms, mode, score))
      val b = scores(fromTok.searchTerms(terms, mode, score))
      assert(a.keySet == b.keySet, s"$mode")
      a.foreach { case (id, s) => assert(math.abs(s - b(id)) < 1e-9, s"doc $id") }
      assert(a.nonEmpty, s"$terms $mode")
    }
    // positions survive the cache: phrase results identical
    val ph = "spark fulltext search engine"
    assert(scores(fromTok.searchPhrase(ph)) == scores(direct.searchPhrase(ph)))
    assert(fromTok.searchPhrase(ph).count() > 0)
    assertSameRows(s"$tmp/direct", s"$tmp/fromtok")
  }

  test("token-column build equals a direct build (sectioned + weights)") {
    val docs = WebCorpus.generate(spark, 200, 4)
      .withColumn("title", array_join(slice(split(col("text"), " "), 1, 5), " "))
    val direct = IndexBuilder.buildSectioned(spark, docs, "doc_id",
      Seq("title", "text"), s"$tmp/sdirect", cfg)
    TokenColumn.write(spark, docs, "doc_id", Seq("title", "text"),
      s"$tmp/stok", cfg.tokenizer)
    val fromTok = TokenColumn.buildIndex(spark, s"$tmp/stok", s"$tmp/sfromtok", cfg)
    assert(fromTok.meta.sections == direct.meta.sections)
    val w = Map("title" -> 10.0)
    val a = scores(direct.searchTerms(Seq("spark"), MatchMode.Any, ScoreMode.Tf,
      sectionWeights = w))
    val b = scores(fromTok.searchTerms(Seq("spark"), MatchMode.Any, ScoreMode.Tf,
      sectionWeights = w))
    assert(a == b)
    assert(a.nonEmpty)
    assertSameRows(s"$tmp/sdirect", s"$tmp/sfromtok")
  }

  test("rebuild-many: different physical params from ONE token column") {
    // the scale win: re-chunk/re-salt without re-tokenizing
    val re = TokenColumn.buildIndex(spark, s"$tmp/tok", s"$tmp/fromtok2",
      cfg.copy(blockSize = 32, bucketBits = 3))
    val base = GraftIndex(spark, s"$tmp/fromtok")
    val a = scores(base.searchTerms(Seq("spark"), MatchMode.Any, ScoreMode.Bm25()))
    val b = scores(re.searchTerms(Seq("spark"), MatchMode.Any, ScoreMode.Bm25()))
    assert(a.keySet == b.keySet)
    a.foreach { case (id, s) => assert(math.abs(s - b(id)) < 1e-9) }
    assert(re.meta.blockSize == 32 && re.meta.bucketBits == 3)
  }
}
