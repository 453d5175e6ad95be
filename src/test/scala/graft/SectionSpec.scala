package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.codec.PostingCodec
import graft.index._
import graft.query._

/** Sectioned (multi-column / sid) index: codec round-trip, weighted
  * match_columns scoring vs a naive oracle, and phrase semantics
  * (a phrase never crosses a section boundary). */
class SectionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val tmp =
    java.nio.file.Files.createTempDirectory("graft-sect").toString

  test("codec round-trips sid stream (incl. same-doc section pairs)") {
    val docs = Array(1L, 1L, 2L, 5L, 5L, 5L)
    val tfs = Array(2, 1, 3, 1, 1, 2)
    val dls = Array(10, 10, 4, 9, 9, 9)
    val sids = Array(1, 2, 1, 1, 2, 3)
    val poss = Array(Array(0, 3), Array(1), Array(0, 1, 2), Array(5), Array(0), Array(2, 4))
    val bytes = PostingCodec.encode(docs, tfs, dls, poss, sids)
    val d = PostingCodec.decode(bytes)
    assert(d.docIds.toSeq == docs.toSeq)
    assert(d.tfs.toSeq == tfs.toSeq)
    assert(d.dls.toSeq == dls.toSeq)
    assert(d.sids.toSeq == sids.toSeq)
    assert(d.positions.toSeq == poss.flatten.toSeq)
  }

  test("codec rejects non-ascending (doc, sid)") {
    intercept[IllegalArgumentException] {
      PostingCodec.encode(Array(1L, 1L), Array(1, 1), Array(2, 2), null, Array(2, 1))
    }
  }

  // two-column corpus: title + body, deterministic
  private val n = 400
  private def title(i: Long): String =
    if (i % 3 == 0) "spark title words here" else s"plain heading $i"
  private def body(i: Long): String = {
    val sb = new StringBuilder
    if (i % 2 == 0) sb.append("spark ")
    if (i % 5 == 0) sb.append("spark join cluster ")
    if (i % 7 == 0) sb.append("alpha ") // title-tail / body-head trap below
    sb.append(s"common words body$i filler")
    sb.toString
  }
  private def titleTrap(i: Long): String =
    if (i % 7 == 0) s"heading ends alpha" else title(i)
  // doc 399*? — we use titleTrap for the phrase test corpus

  private lazy val idx: GraftIndex = {
    import spark.implicits._
    val df = (0L until n).map(i => (i, title(i), body(i))).toDF("doc_id", "title", "body")
    IndexBuilder.buildSectioned(spark, df, "doc_id", Seq("title", "body"),
      s"$tmp/idx", IndexConfig(tokenizer = "TokenBigram", bucketBits = 5))
  }

  private def tok(s: String): Array[String] =
    graft.analyzer.Analyzers.bigram.terms(s)

  test("weighted match_columns scoring equals naive (Any)") {
    val got = idx.searchTerms(Seq("spark"), MatchMode.Any, ScoreMode.Tf,
        sectionWeights = Map("title" -> 10.0, "body" -> 1.0))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = (0L until n).flatMap { i =>
      val t = tok(title(i)).count(_ == "spark")
      val b = tok(body(i)).count(_ == "spark")
      val s = 10.0 * t + 1.0 * b
      if (s > 0) Some(i -> s) else None
    }.toMap
    assert(got == want)
    assert(want.nonEmpty)
    // docs matched ONLY via title prove cross-section match works
    assert(want.keys.exists(i => tok(body(i)).count(_ == "spark") == 0))
  }

  test("weighted match_columns scoring equals naive (All, two terms)") {
    val got = idx.searchTerms(Seq("spark", "join"), MatchMode.All, ScoreMode.Tf,
        sectionWeights = Map("title" -> 10.0, "body" -> 1.0))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = (0L until n).flatMap { i =>
      val terms = Seq("spark", "join")
      val scores = terms.map { tm =>
        10.0 * tok(title(i)).count(_ == tm) + tok(body(i)).count(_ == tm)
      }
      if (scores.forall(_ > 0)) Some(i -> scores.sum) else None
    }.toMap
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("default weights = 1.0 per section (plain doc-level tf)") {
    val got = idx.searchTerms(Seq("spark"), MatchMode.Any, ScoreMode.Tf)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = (0L until n).flatMap { i =>
      val s = tok(title(i)).count(_ == "spark") + tok(body(i)).count(_ == "spark")
      if (s > 0) Some(i -> s.toDouble) else None
    }.toMap
    assert(got == want)
  }

  test("phrase does not cross section boundaries") {
    import spark.implicits._
    val df = (0L until n).map(i => (i, titleTrap(i), body(i))).toDF("doc_id", "title", "body")
    val trapIdx = IndexBuilder.buildSectioned(spark, df, "doc_id", Seq("title", "body"),
      s"$tmp/idx-trap", IndexConfig(tokenizer = "TokenBigram", bucketBits = 5))
    // docs with i%7==0 have title "... alpha" and body "alpha ..." — the
    // words are adjacent only ACROSS the boundary, so "ends alpha" matches
    // (inside title) but "alpha alpha" must not
    val inTitle = trapIdx.searchPhrase("ends alpha")
      .collect().map(_.getLong(0)).toSet
    assert(inTitle == (0L until n).filter(_ % 7 == 0).toSet)
    val crossing = trapIdx.searchPhrase("alpha alpha")
    assert(crossing.count() == 0, "phrase must not span title|body boundary")
  }

  test("BM25 over sectioned index equals naive with aggregated tf") {
    val got = idx.searchTerms(Seq("spark"), MatchMode.Any, ScoreMode.Bm25())
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // naive: tf = title+body occurrences, dl = total tokens, idf from
    // (doc, section)-counting df (documented sectioned-df semantics)
    val dfCount = (0L until n).map { i =>
      Seq(tok(title(i)), tok(body(i))).count(_.contains("spark"))
    }.sum
    val dls = (0L until n).map(i => tok(title(i)).length + tok(body(i)).length)
    val avgdl = dls.sum.toDouble / n
    val idf = Bm25.idf(n, dfCount)
    val want = (0L until n).flatMap { i =>
      val tf = tok(title(i)).count(_ == "spark") + tok(body(i)).count(_ == "spark")
      if (tf > 0) Some(i -> idf * Bm25.weight(tf, dls(i.toInt), avgdl, 2.0, 0.75))
      else None
    }.toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (i, s) => assert(math.abs(s - want(i)) < 1e-9, s"doc $i") }
  }

  test("sectioned WAND rank-identity under multi-block group-sum traps") {
    // Adversarial corpus for the SECTIONED Block-Max WAND bound
    // (maxSectionWeight x max_gtf): one bucket, skew term spanning ~6 blocks.
    //  - early docs: tf concentrated in ONE section (per-posting max high)
    //  - late docs (>= 560): tf SPLIT across title+body so the group SUM is
    //    the corpus max while each per-(doc,sid) posting tf stays moderate.
    // A WAND bounding blocks by per-posting max_tf underestimates the late
    // blocks and prunes the true winners; the max_gtf bound must not.
    import spark.implicits._
    // df stays below nDocs (positive idf): most docs don't contain the term
    val nn = 700
    val docs = (0L until nn).map { i =>
      val (tfTitle, tfBody) =
        if (i >= 560) (20 + (i % 4).toInt, 21 + (i % 3).toInt) // sum 41..46
        else if (i % 9 == 0) (30, 0)                           // single-section spike
        else if (i % 5 == 0) (1, 1)                            // background match
        else (0, 0)                                            // no match
      def rep(t: String, k: Int) = Seq.fill(k)(t).mkString(" ")
      val fillT = (0 until math.max(0, 26 - tfTitle)).map(j => s"t${i}x$j").mkString(" ")
      val fillB = (0 until math.max(0, 26 - tfBody)).map(j => s"b${i}x$j").mkString(" ")
      (i, rep("skewsect", tfTitle) + " " + fillT, rep("skewsect", tfBody) + " " + fillB)
    }
    val df = docs.toDF("doc_id", "title", "body")
    val sIdx = IndexBuilder.buildSectioned(spark, df, "doc_id", Seq("title", "body"),
      s"$tmp/idx-wand", IndexConfig(tokenizer = "TokenBigram", bucketBits = 30))
    for (w <- Seq(Map.empty[String, Double], Map("title" -> 10.0), Map("title" -> 0.5));
         mode <- Seq[ScoreMode](ScoreMode.Bm25(), ScoreMode.Tf,
           ScoreMode.TfAtMost(25.0), ScoreMode.TfIdf)) {
      val full = sIdx.searchTerms(Seq("skewsect"), MatchMode.Any, mode, sectionWeights = w)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      for (k <- Seq(5, 10, 25)) {
        val want = full.sortBy { case (d, s) => (-s, d) }.take(k).toSeq
        val got = sIdx.topK(sIdx.searchTerms(Seq("skewsect"), MatchMode.Any, mode,
            topK = k, sectionWeights = w), k)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(got.map(_._1) == want.map(_._1), s"top-$k ids ($mode, w=$w)")
        got.zip(want).foreach { case ((_, s1), (_, s2)) =>
          assert(math.abs(s1 - s2) < 1e-9) }
        // the trap is live: winners are the split-tf tail docs (not under
        // TfAtMost, whose cap ties the tail with the single-section spikes)
        if (w.isEmpty && mode != ScoreMode.TfAtMost(25.0))
          assert(want.take(3).forall(_._1 >= 560), s"want=$want ($mode)")
      }
    }
    // and the pruning actually happens: descending-quality corpus (winners
    // in the FIRST blocks, weak tail) — once the heap is full the remaining
    // suffix bounds fall below the threshold and WAND exits without ever
    // decoding the tail blocks of the sectioned index
    val dq = (0L until nn).map { i =>
      // df = 64·2 + 336 = 464 < nDocs keeps idf positive
      val (tT, tB) =
        if (i < 64) (12 + (i % 4).toInt, 13 + (i % 3).toInt)
        else if (i < 400) (1, 0)
        else (0, 0)
      def rep(k: Int) = Seq.fill(k)("skewdesc").mkString(" ")
      val fillT = (0 until math.max(0, 18 - tT)).map(j => s"u${i}x$j").mkString(" ")
      val fillB = (0 until math.max(0, 18 - tB)).map(j => s"v${i}x$j").mkString(" ")
      (i, rep(tT) + " " + fillT, rep(tB) + " " + fillB)
    }.toDF("doc_id", "title", "body")
    val dqIdx = IndexBuilder.buildSectioned(spark, dq, "doc_id", Seq("title", "body"),
      s"$tmp/idx-wandskip", IndexConfig(tokenizer = "TokenBigram", bucketBits = 30))
    MatchKernel.resetStats()
    val skipTop = dqIdx.topK(dqIdx.searchTerms(Seq("skewdesc"), MatchMode.Any,
      ScoreMode.Bm25(), topK = 5, sectionWeights = Map("title" -> 2.0)), 5)
      .collect().map(_.getLong(0)).toSeq
    val (seen, decoded) = MatchKernel.readStats()
    assert(skipTop.forall(_ < 64), s"winners should be head docs: $skipTop")
    assert(seen >= 3, s"expected a multi-block cursor, saw $seen")
    assert(decoded < seen, s"sectioned WAND should skip blocks: decoded $decoded of $seen")
  }

  test("WAND rank-identity with NEGATIVE idf (sectioned df > nDocs)") {
    // every doc carries the term in BOTH sections → df = 2·nDocs > nDocs →
    // reference BM25 idf goes negative → every block "upper bound" computed
    // from max_tf is really a LOWER bound. The 0-clamp in initBounds keeps
    // WAND sound here (winners are the LOWEST-tf docs).
    import spark.implicits._
    val m = 300
    val df = (0L until m).map { i =>
      val tf = 1 + (i % 7).toInt
      val fill = (0 until 10).map(j => s"n${i}x$j").mkString(" ")
      (i, Seq.fill(tf)("ubiq").mkString(" "), "ubiq " + fill)
    }.toDF("doc_id", "title", "body")
    val negIdx = IndexBuilder.buildSectioned(spark, df, "doc_id", Seq("title", "body"),
      s"$tmp/idx-negidf", IndexConfig(tokenizer = "TokenBigram", bucketBits = 30))
    assert(Bm25.idf(negIdx.meta.nDocs,
      negIdx.termStats(Seq("ubiq"))("ubiq").df) < 0, "trap requires negative idf")
    val full = negIdx.searchTerms(Seq("ubiq"), MatchMode.Any, ScoreMode.Bm25())
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val want = full.sortBy { case (d, s) => (-s, d) }.take(10).toSeq
    val got = negIdx.topK(
        negIdx.searchTerms(Seq("ubiq"), MatchMode.Any, ScoreMode.Bm25(), topK = 10), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(_._1) == want.map(_._1))
  }

  test("sectioned top-k (heap path) is rank-identical to full scoring") {
    val full = idx.searchTerms(Seq("spark", "join"), MatchMode.Any, ScoreMode.Bm25(),
        sectionWeights = Map("title" -> 3.0))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val want = full.sortBy { case (d, s) => (-s, d) }.take(10).toSeq
    val got = idx.topK(idx.searchTerms(Seq("spark", "join"), MatchMode.Any,
        ScoreMode.Bm25(), topK = 10, sectionWeights = Map("title" -> 3.0)), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(_._1) == want.map(_._1))
  }

  test("sectioned WAND stays rank-identical through delete/upsert (filterBlocks max_gtf)") {
    import spark.implicits._
    val df = (0L until n).map(i => (i, title(i), body(i))).toDF("doc_id", "title", "body")
    val p = s"$tmp/idx-mut"
    IndexBuilder.buildSectioned(spark, df, "doc_id", Seq("title", "body"), p,
      IndexConfig(tokenizer = "TokenBigram", bucketBits = 30))
    graft.streaming.IncrementalIndex.delete(spark, p, (0L until n).filter(_ % 11 == 0))
    graft.streaming.IncrementalIndex.upsert(spark,
      p, (0L until n).filter(_ % 13 == 0)
        .map(i => (i, "spark spark upserted", "spark body here")).toDF("doc_id", "title", "body"),
      "doc_id", "title", "seg-mu", IndexConfig(tokenizer = "TokenBigram"))
    val mIdx = GraftIndex(spark, p)
    // tombstone-touched blocks are rebuilt from their live postings and an
    // upserted doc's overlapping blocks are merged — the rebuilt blocks
    // must carry a sound max_gtf for the weighted WAND bound
    val w = Map("title" -> 10.0)
    val full = mIdx.searchTerms(Seq("spark"), MatchMode.Any, ScoreMode.Bm25(),
        sectionWeights = w)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    for (k <- Seq(5, 15)) {
      val want = full.sortBy { case (d, s) => (-s, d) }.take(k).toSeq
      val got = mIdx.topK(mIdx.searchTerms(Seq("spark"), MatchMode.Any,
          ScoreMode.Bm25(), topK = k, sectionWeights = w), k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.map(_._1) == want.map(_._1), s"top-$k")
      got.zip(want).foreach { case ((_, s1), (_, s2)) => assert(math.abs(s1 - s2) < 1e-9) }
    }
    // upserted titles (weight 10, tf 2) must dominate the top
    assert(mIdx.topK(mIdx.searchTerms(Seq("spark"), MatchMode.Any, ScoreMode.Tf,
        topK = 5, sectionWeights = w), 5)
      .collect().map(_.getLong(0)).forall(_ % 13 == 0))
  }

  test("bucketBits invariance for sectioned index") {
    import spark.implicits._
    val df = (0L until n).map(i => (i, title(i), body(i))).toDF("doc_id", "title", "body")
    val wide = IndexBuilder.buildSectioned(spark, df, "doc_id", Seq("title", "body"),
      s"$tmp/idx-wide", IndexConfig(tokenizer = "TokenBigram", bucketBits = 30))
    val w = Map("title" -> 10.0)
    val a = idx.searchTerms(Seq("spark"), MatchMode.Any, ScoreMode.Tf, sectionWeights = w)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = wide.searchTerms(Seq("spark"), MatchMode.Any, ScoreMode.Tf, sectionWeights = w)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b)
  }
}
