package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.WebCorpus
import graft.index._
import graft.query._

class IndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val nDocs = 300
  // small bucketBits (6 -> buckets of 64 docs) to exercise the salted path
  private lazy val cfg = IndexConfig(tokenizer = "TokenBigram", bucketBits = 6)
  private lazy val tmp =
    java.nio.file.Files.createTempDirectory("graft-idx").toString
  private lazy val corpus: Seq[(Long, String)] = {
    (0L until nDocs).map(i => i -> WebCorpus.text(i, 42L)._1)
  }
  private lazy val naive = new NaiveSearch(corpus)
  private lazy val index: GraftIndex = {
    val df = WebCorpus.generate(spark, nDocs, partitions = 4)
    IndexBuilder.build(spark, df, "doc_id", "text", s"$tmp/idx", cfg)
  }

  private def collectScores(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  // terms drawn from the actual corpus vocabulary, by df rank
  private lazy val byDf: Seq[String] = naive.df.toSeq.sortBy { case (t, d) => (-d, t) }.map(_._1)
  private def headTerm(i: Int): String = byDf(i)
  private def midTerm(i: Int): String = byDf(byDf.length / 2 + i)

  test("corpus generator is deterministic") {
    assert(WebCorpus.text(7, 42L) == WebCorpus.text(7, 42L))
    assert(WebCorpus.text(7, 42L) != WebCorpus.text(8, 42L))
  }

  test("manifest stats match the naive oracle") {
    assert(index.meta.nDocs == naive.nDocs)
    assert(math.abs(index.meta.avgdl - naive.avgdl) < 1e-9)
    assert(index.meta.totalPostings > 0)
  }

  test("term dictionary df matches naive") {
    val sample = naive.df.toSeq.sortBy(-_._2).take(20) ++
      naive.df.toSeq.sortBy(_._2).take(5)
    val stats = index.termStats(sample.map(_._1))
    sample.foreach { case (term, d) =>
      assert(stats(term).df == d, s"df($term)")
    }
  }

  test("AND match + TF score equals naive") {
    val terms = Seq(headTerm(0), headTerm(1))
    val got = collectScores(index.searchTerms(terms, MatchMode.All, ScoreMode.Tf))
    assert(got.nonEmpty, s"head terms $terms should co-occur")
    assert(got == naive.tfScoreAnd(terms))
  }

  test("AND match with rare term equals naive") {
    val rare = naive.df.toSeq.filter { case (_, d) => d >= 3 && d < 20 }.maxBy(_._2)._1
    val terms = Seq(headTerm(0), rare)
    val got = collectScores(index.searchTerms(terms, MatchMode.All, ScoreMode.Tf))
    assert(got == naive.tfScoreAnd(terms))
  }

  test("AND match with unknown term is empty") {
    assert(index.searchTerms(Seq(headTerm(0), "zzzzznotaterm"), MatchMode.All).count() == 0)
  }

  test("OR match + BM25 equals naive") {
    val terms = Seq(midTerm(0), midTerm(1))
    val got = collectScores(index.searchTerms(terms, MatchMode.Any, ScoreMode.Bm25()))
    val want = naive.bm25ScoreOr(terms)
    assert(got.nonEmpty)
    assert(got.keySet == want.keySet)
    got.foreach { case (id, s) => assert(math.abs(s - want(id)) < 1e-9, s"doc $id") }
  }

  test("quorum match equals naive") {
    val terms = Seq(headTerm(2), headTerm(3), midTerm(2))
    val got = index.searchTerms(terms, MatchMode.Quorum(2), ScoreMode.Tf)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got.nonEmpty)
    assert(got == naive.quorumMatch(terms, 2))
  }

  test("BM25 AND scores equal naive") {
    val terms = Seq(headTerm(4), headTerm(5))
    val got = collectScores(index.searchTerms(terms, MatchMode.All, ScoreMode.Bm25()))
    val want = naive.bm25ScoreAnd(terms)
    assert(got.nonEmpty)
    assert(got.keySet == want.keySet)
    got.foreach { case (id, s) => assert(math.abs(s - want(id)) < 1e-9, s"doc $id") }
  }

  test("phrase search equals naive") {
    val phrase = "spark fulltext search engine"
    val got = collectScores(index.searchPhrase(phrase, ScoreMode.Tf))
    val want = naive.phraseMatch(phrase).map { case (id, n) => id -> n.toDouble }
    assert(got == want)
    assert(got.nonEmpty, "phrase should occur in the corpus")
  }

  test("WAND top-k is rank-identical to naive BM25 top-k") {
    for (terms <- Seq(
        Seq(headTerm(0)),
        Seq(headTerm(0), headTerm(1)),
        Seq(headTerm(2), midTerm(3), midTerm(4)),
        Seq(headTerm(0), headTerm(1), headTerm(2), midTerm(5)))) {
      val k = 10
      val got = index.topK(
        index.searchTerms(terms, MatchMode.Any, ScoreMode.Bm25(), topK = k), k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = naive.topK(naive.bm25ScoreOr(terms), k)
      assert(got.map(_._1) == want.map(_._1), s"docIds for $terms")
      got.zip(want).foreach { case ((_, s1), (_, s2)) =>
        assert(math.abs(s1 - s2) < 1e-9)
      }
    }
  }

  test("WAND rank-identity under multi-block skewed tf (late blocks win)") {
    // Adversarial layout for the Block-Max WAND bounds: one bucket
    // (bucketBits=30), head term spanning ~6 blocks of 128 postings, with
    // LOW tf in early blocks and HIGH tf only in the last blocks. A WAND
    // that uses the current block's bound for pivoting/early-exit fills the
    // heap from early blocks and then terminates before reaching the
    // high-tf docs at the tail — rank-identity catches that.
    import spark.implicits._
    val n = 700
    // dl is equalized (~52 tokens) with per-doc unique filler so BM25's
    // length penalty can't mask the tf skew: late docs strictly outscore
    // early ones on the skew term.
    val docs = (0L until n).map { i =>
      val tfA = if (i >= 560) 40 + (i % 7).toInt else 1 + (i % 3).toInt
      val tfB = if (i % 5 == 0) 1 else 0
      val sb = new StringBuilder
      (0 until tfA).foreach(_ => sb.append("skewterma "))
      (0 until tfB).foreach(_ => sb.append("skewtermb "))
      (0 until (52 - tfA - tfB)).foreach(j => sb.append(s"f${i}x$j "))
      (i, sb.toString.trim)
    }
    val df = docs.toDF("doc_id", "text")
    val idx = IndexBuilder.build(spark, df, "doc_id", "text", s"$tmp/idx-skew",
      IndexConfig(tokenizer = "TokenBigram", bucketBits = 30))

    def rankIdentical(terms: Seq[String], assertTail: Boolean,
        mode: graft.query.ScoreMode = ScoreMode.Bm25()): Unit = {
      // oracle: full disjunctive scoring, no pruning (topK=0 bypasses WAND)
      val full = idx.searchTerms(terms, MatchMode.Any, mode)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      for (k <- Seq(5, 10, 25)) {
        val want = full.sortBy { case (d, s) => (-s, d) }.take(k).toSeq
        val got = idx.topK(
          idx.searchTerms(terms, MatchMode.Any, mode, topK = k), k)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(got.map(_._1) == want.map(_._1), s"top-$k docIds for $terms ($mode)")
        got.zip(want).foreach { case ((_, s1), (_, s2)) =>
          assert(math.abs(s1 - s2) < 1e-9)
        }
        // proves the corpus exercises the trap: winners live in LATE blocks,
        // beyond where a current-block-bound WAND would have terminated
        if (assertTail)
          assert(want.take(3).forall(_._1 >= 560), s"top-$k should be tail docs: $want")
      }
    }
    rankIdentical(Seq("skewterma"), assertTail = true)
    rankIdentical(Seq("skewterma", "skewtermb"), assertTail = false)
    // WAND bounds generalize to every score mode: same adversarial layout
    for (mode <- Seq[graft.query.ScoreMode](ScoreMode.Tf,
        ScoreMode.TfAtMost(5.0), ScoreMode.TfIdf))
      rankIdentical(Seq("skewterma", "skewtermb"), assertTail = false, mode)
  }

  test("phrase/near on a positions-less index fails fast") {
    val df = WebCorpus.generate(spark, 50, partitions = 2)
    val idx = IndexBuilder.build(spark, df, "doc_id", "text", s"$tmp/idx-nopos",
      cfg.copy(withPositions = false))
    val e1 = intercept[IllegalArgumentException](idx.searchPhrase("spark fulltext"))
    assert(e1.getMessage.contains("withPositions"))
    val e2 = intercept[IllegalArgumentException](
      idx.searchTerms(Seq(headTerm(0), headTerm(1)), MatchMode.Near(3)))
    assert(e2.getMessage.contains("withPositions"))
    val e3 = intercept[IllegalArgumentException](
      idx.searchNearPhraseProduct(Seq(Seq("spark fulltext"), Seq("search")), 5))
    assert(e3.getMessage.contains("withPositions") && e3.getMessage.contains("NearPhraseProduct"))
    // AND/OR still fine without positions
    assert(idx.searchTerms(Seq(headTerm(0)), MatchMode.Any).count() > 0)
  }

  test("builder fails fast on out-of-order doc ids") {
    import spark.implicits._
    val bad = Seq((5L, "alpha beta"), (3L, "gamma delta"))
      .toDF("doc_id", "text").coalesce(1)
    val e = intercept[org.apache.spark.SparkException] {
      IndexBuilder.build(spark, bad, "doc_id", "text", s"$tmp/idx-bad", cfg)
    }
    assert(e.getCause != null || e.getMessage.contains("ascending"))
  }

  test("regexp search matches dictionary expansion on both paths") {
    val pat = "^" + headTerm(0).take(2) + ".*"
    val viaKernel = collectScores(index.searchRegexp(pat, maxExpansions = 10000))
    val viaJoin = collectScores(
      index.searchTermsTfByJoin(
        index.terms.where(org.apache.spark.sql.functions.col("term").rlike(pat))))
    assert(viaKernel.nonEmpty)
    assert(viaKernel == viaJoin)
  }

  test("index diff: zero against own source, detects drift, respects tombstones") {
    import org.apache.spark.sql.functions.col
    val docs = WebCorpus.generate(spark, nDocs, partitions = 4)
    def row(df: org.apache.spark.sql.DataFrame) = {
      val r = df.head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    }
    val clean = row(index.diffAgainst(docs, "doc_id", "text"))
    assert(clean._1 > 0 && clean._1 == clean._2, s"expected==actual: $clean")
    assert(clean._3 == 0 && clean._4 == 0 && clean._5 == 0, s"clean diff: $clean")
    // drift detection: drop a source doc -> its postings become "remains"
    val drift = row(index.diffAgainst(docs.where(col("doc_id") =!= 0L), "doc_id", "text"))
    assert(drift._4 > 0, s"missing source doc must surface as remains: $drift")
    // tombstoned index vs filtered source: still a clean diff
    val p = s"$tmp/idx-diff"
    IndexBuilder.build(spark, docs, "doc_id", "text", p, cfg)
    val deleted = graft.streaming.IncrementalIndex.delete(spark, p, Seq(1L, 3L))
    val afterDel = row(deleted.diffAgainst(
      docs.where(!col("doc_id").isin(1L, 3L)), "doc_id", "text"))
    assert(afterDel._3 == 0 && afterDel._4 == 0 && afterDel._5 == 0,
      s"tombstone-filtered diff must be clean: $afterDel")
  }

  test("regexp literal-prefix extraction is conservative and sound") {
    import graft.index.GraftIndex.regexpLiteralPrefix
    assert(regexpLiteralPrefix("^qu.*y$") == "qu")
    assert(regexpLiteralPrefix("^abc$") == "abc")
    assert(regexpLiteralPrefix("^abc") == "abc")
    assert(regexpLiteralPrefix("^ab?c") == "a")    // optional b unproven
    assert(regexpLiteralPrefix("^a{2}b") == "")    // quantifier drops a (conservative)
    assert(regexpLiteralPrefix("^ab|cd") == "")    // alternation bypasses anchor
    assert(regexpLiteralPrefix("qu.*") == "")      // unanchored
    assert(regexpLiteralPrefix("^\\.cfg$") == ".cfg") // escaped literal dot
    assert(regexpLiteralPrefix("^\\dx") == "")     // \d class: give up
    assert(regexpLiteralPrefix("^(ab)c") == "")    // leading group
    assert(regexpLiteralPrefix("^\\.?a") == "")    // quantified escaped literal
    assert(regexpLiteralPrefix("^") == "")
  }

  test("prefix expansion finds dictionary terms") {
    val prefix = headTerm(0).take(2)
    val exp = index.expandPrefix(prefix)
    assert(exp.nonEmpty)
    assert(exp.contains(headTerm(0)))
    assert(exp.forall(_.startsWith(prefix)))
  }

  test("suffix expansion via reversed dictionary equals full scan") {
    val suf = headTerm(0).takeRight(2)
    val exp = index.expandSuffix(suf, maxExpansions = 100000)
    assert(exp.contains(headTerm(0)))
    assert(exp.forall(_.endsWith(suf)))
    assert(exp.toSet == naive.df.keySet.filter(_.endsWith(suf)))
  }

  test("fuzzy expansion within edit distance") {
    val t = headTerm(6)
    val exp = index.expandFuzzy(t, 1)
    assert(exp.contains(t))
    assert(exp.forall(x => math.abs(x.length - t.length) <= 1))
  }

  test("near match within window equals brute check") {
    val terms = Seq(headTerm(0), headTerm(1))
    val got = index.searchTerms(terms, MatchMode.Near(3), ScoreMode.Tf)
      .collect().map(_.getLong(0)).toSet
    val want = corpus.flatMap { case (id, _) =>
      val toks = naive.tokenized(id)
      val p1 = toks.filter(_.term == terms(0)).map(_.pos)
      val p2 = toks.filter(_.term == terms(1)).map(_.pos)
      val ok = p1.nonEmpty && p2.nonEmpty &&
        p1.exists(a => p2.exists(b => math.abs(a - b) <= 3))
      if (ok) Some(id) else None
    }.toSet
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("near-phrase (unordered + ordered) equals brute check") {
    def starts(id: Long, words: Seq[String]): Seq[Int] = {
      val toks = naive.tokenized(id)
      val posOf = words.map(w => toks.filter(_.term == w).map(_.pos).toSet)
      toks.filter(_.term == words.head).map(_.pos)
        .filter(p => words.indices.forall(k => posOf(k).contains(p + k)))
    }
    val single = headTerm(3)
    def brute(k: Int, ordered: Boolean): Map[Long, Double] = corpus.flatMap { case (id, _) =>
      val s1 = starts(id, Seq("spark", "fulltext"))
      val s2 = starts(id, Seq(single))
      val ok =
        if (!ordered) s1.exists(a => s2.exists(b => math.abs(a - b) <= k))
        else s1.exists(a => s2.exists(b => b > a && b - a <= k))
      if (ok) Some(id -> (s1.length + s2.length).toDouble) else None
    }.toMap
    val phrases = Seq("spark fulltext", single)
    val got = collectScores(index.searchNearPhrase(phrases, 8))
    assert(got.nonEmpty, "unordered near-phrase should match")
    assert(got == brute(8, ordered = false))
    val gotO = collectScores(index.searchNearPhrase(phrases, 8, ordered = true))
    assert(gotO == brute(8, ordered = true))
    assert(gotO.keySet.subsetOf(got.keySet))
  }

  test("near-phrase-product equals brute check (alternatives per group)") {
    def starts(id: Long, words: Seq[String]): Seq[Int] = {
      val toks = naive.tokenized(id)
      val posOf = words.map(w => toks.filter(_.term == w).map(_.pos).toSet)
      toks.filter(_.term == words.head).map(_.pos)
        .filter(p => words.indices.forall(k => posOf(k).contains(p + k)))
    }
    val g1a = Seq("spark", "fulltext")
    val g1b = Seq(headTerm(1))
    val g2 = Seq(headTerm(3))
    def brute(k: Int): Map[Long, Double] = corpus.flatMap { case (id, _) =>
      val s1 = (starts(id, g1a) ++ starts(id, g1b)).distinct.sorted
      val s2 = starts(id, g2)
      val ok = s1.exists(a => s2.exists(b => math.abs(a - b) <= k))
      if (ok) Some(id -> (s1.length + s2.length).toDouble) else None
    }.toMap
    val got = collectScores(index.searchNearPhraseProduct(
      Seq(Seq("spark fulltext", headTerm(1)), Seq(headTerm(3))), 6))
    assert(got.nonEmpty)
    assert(got == brute(6))
    // a group with only unknown alternatives yields empty
    assert(index.searchNearPhraseProduct(
      Seq(Seq("zzznotaterm"), Seq(headTerm(3))), 6).count() == 0)
  }

  test("queryFilter keeps exactly the matching source rows (in-filter query())") {
    import spark.implicits._
    val source = corpus.toDF("doc_id", "text")
    val q = s"${headTerm(0)} +${headTerm(1)}"
    val got = graft.operators.Select.queryFilter(source, index, q)
      .select("doc_id").as[Long].collect().toSet
    val want = naive.tfScoreAnd(Seq(headTerm(0), headTerm(1))).keySet
    assert(got == want)
    assert(got.nonEmpty)
    // source columns preserved (predicate position, not a projection)
    assert(graft.operators.Select.queryFilter(source, index, q).columns.toSeq
      == Seq("doc_id", "text"))
  }

  test("sequential-scan fallback equals the index path on small candidate sets") {
    import spark.implicits._
    val source = corpus.toDF("doc_id", "text")
    // doc_id:<25 alone selects 25 rows -> under the threshold
    val q = s"${headTerm(0)} doc_id:<25"
    def run(thresh: Long) = graft.operators.Select.select(index,
        graft.operators.Select.Request(query = q, limit = -1,
          sortKeys = Seq(("doc_id", true)),
          source = Some(source), sequentialThreshold = thresh))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaIndex = run(0) // fallback off
    val viaSeq = run(100) // 25 candidates <= 100 -> sequential path
    assert(viaSeq == viaIndex)
    assert(viaSeq.nonEmpty)
    // plan proof: the sequential run must not scan the postings table
    val seqPlan = graft.operators.Select.select(index,
      graft.operators.Select.Request(query = q, limit = -1,
        source = Some(source), sequentialThreshold = 100))
      .queryExecution.executedPlan.toString
    assert(!seqPlan.contains("postings"), "sequential path must skip the index")
  }

  test("build is resumable: second call reuses the committed manifest") {
    val df = WebCorpus.generate(spark, nDocs, partitions = 4)
    val t0 = System.nanoTime()
    val again = IndexBuilder.build(spark, df, "doc_id", "text", s"$tmp/idx", cfg)
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(again.meta.nDocs == index.meta.nDocs)
    assert(elapsed < 5.0, s"resume should skip the build, took ${elapsed}s")
  }

  test("bucketBits does not change results") {
    val df = WebCorpus.generate(spark, nDocs, partitions = 4)
    val wide = IndexBuilder.build(spark, df, "doc_id", "text", s"$tmp/idx-wide",
      cfg.copy(bucketBits = 30))
    val terms = Seq(headTerm(0), headTerm(1))
    val a = collectScores(index.searchTerms(terms, MatchMode.All, ScoreMode.Bm25()))
    val b = collectScores(wide.searchTerms(terms, MatchMode.All, ScoreMode.Bm25()))
    assert(a == b)
  }
}
