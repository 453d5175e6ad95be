package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

import graft.index.{GraftIndex, IndexBuilder, IndexConfig}
import graft.query.{MatchMode, ScoreMode}
import graft.streaming.IncrementalIndex

/** Seeded fuzz over the mutation surface: random corpus -> delete a batch
  * (including ids later resurrected) -> upsert a batch with new text ->
  * compare EVERY match mode against a naive recomputation of the
  * post-mutation corpus -> compact -> everything must still agree. A
  * mutated index, plain and sectioned, must also answer exactly as a fresh
  * build of its live docs: term stats, pages and nHits on both kernel
  * paths, suggest and the decoded postings, before and after a partial
  * compact. */
class MutationFuzzSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(20260816L)
  // letters only: TokenBigram unifies alpha and digit runs SEPARATELY, so
  // digit-bearing words would not be single tokens
  private val vocab = (0 until 50).map(i =>
    s"w${('a' + i % 26).toChar}${('a' + i / 26).toChar}")
  private def randText(): String =
    (0 until (3 + rnd.nextInt(28))).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")

  private val nDocs = 400
  private val baseCorpus: Map[Long, String] =
    (0L until nDocs).map(i => i -> randText()).toMap
  private val deleted: Set[Long] =
    rnd.shuffle((0L until nDocs).toList).take(25).toSet
  // 15 of the upserts resurrect deleted ids, 15 replace live ones
  private val upserted: Map[Long, String] = {
    val res = rnd.shuffle(deleted.toList).take(15)
    val rep = rnd.shuffle(((0L until nDocs).toSet -- deleted).toList).take(15)
    (res ++ rep).map(id => id -> randText()).toMap
  }
  /** the corpus a reader must observe after delete+upsert */
  private val effective: Map[Long, String] =
    (baseCorpus -- deleted) ++ upserted

  private def naiveTf(terms: Seq[String], mode: MatchMode): Map[Long, Double] = {
    val tsets = terms.distinct
    effective.flatMap { case (id, text) =>
      val toks = text.split(" ")
      val tfs = tsets.map(t => t -> toks.count(_ == t)).toMap
      val present = tfs.count(_._2 > 0)
      val score = tfs.valuesIterator.sum.toDouble
      val ok = mode match {
        case MatchMode.All => present == tsets.size
        case MatchMode.Any => present >= 1
        case MatchMode.Quorum(m) => present >= m
        case MatchMode.Near(k) =>
          present == tsets.size && {
            val posOf = tsets.map(t => toks.zipWithIndex.filter(_._1 == t).map(_._2))
            // any combination within window k (small lists: brute force)
            def windows(lists: Seq[Array[Int]]): Boolean = {
              def rec(i: Int, mn: Int, mx: Int): Boolean =
                if (i == lists.size) mx - mn <= k
                else lists(i).exists(p => rec(i + 1, math.min(mn, p), math.max(mx, p)))
              rec(0, Int.MaxValue, Int.MinValue)
            }
            windows(posOf)
          }
        case _ => false
      }
      if (ok && score > 0) Some(id -> score) else None
    }
  }

  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft-fuzz").toString
  private lazy val mutated: GraftIndex = {
    val df = baseCorpus.toSeq.sortBy(_._1).toDF("doc_id", "text")
    IndexBuilder.build(spark, df, "doc_id", "text", s"$tmp/idx",
      IndexConfig(tokenizer = "TokenBigram", bucketBits = 5))
    IncrementalIndex.delete(spark, s"$tmp/idx", deleted.toSeq.sorted)
    IncrementalIndex.upsert(spark, s"$tmp/idx",
      upserted.toSeq.sortBy(_._1).toDF("doc_id", "text"),
      "doc_id", "text", "seg-fuzz", IndexConfig(tokenizer = "TokenBigram"))
    GraftIndex(spark, s"$tmp/idx")
  }

  private def collectScores(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def trials(idx: GraftIndex, label: String): Unit = {
    val localRnd = new scala.util.Random(7L)
    for (trial <- 0 until 12) {
      val k = 1 + localRnd.nextInt(3)
      val terms = (0 until k).map(_ => vocab(localRnd.nextInt(vocab.length))).distinct
      val mode: MatchMode = localRnd.nextInt(4) match {
        case 0 => MatchMode.All
        case 1 => MatchMode.Any
        case 2 => MatchMode.Quorum(math.min(2, terms.size))
        case 3 => MatchMode.Near(3)
      }
      val got = collectScores(idx.searchTerms(terms, mode, ScoreMode.Tf))
      val want = naiveTf(terms, mode)
      assert(got == want, s"$label trial $trial terms=$terms mode=$mode\n" +
        s"extra=${(got.keySet -- want.keySet).toSeq.sorted.take(5)} " +
        s"missing=${(want.keySet -- got.keySet).toSeq.sorted.take(5)}")
    }
    // phrase over a known adjacent pair from the post-mutation corpus
    val (pid, ptext) = effective.find(_._2.split(" ").length >= 2).get
    val ptoks = ptext.split(" ")
    val phrase = s"${ptoks(0)} ${ptoks(1)}"
    val gotP = collectScores(idx.searchPhrase(phrase))
    val wantP = effective.flatMap { case (id, text) =>
      val t = text.split(" ")
      val occ = (0 until t.length - 1).count(i => t(i) == ptoks(0) && t(i + 1) == ptoks(1))
      if (occ > 0) Some(id -> occ.toDouble) else None
    }
    assert(gotP == wantP, s"$label phrase '$phrase' (picked from doc $pid)")
    assert(gotP.nonEmpty)
    // BM25 against a from-scratch naive over the effective corpus: proves
    // per-term df/idf stay EXACT through delete/resurrect/upsert (the
    // resolve-time recomputation under tombstones), not just internally
    // consistent
    val bmTerms = Seq(vocab(2), vocab(9))
    val gotBm = collectScores(idx.searchTerms(bmTerms, MatchMode.Any, ScoreMode.Bm25()))
    val wantBm = naiveBm25(bmTerms)
    assert(gotBm.keySet == wantBm.keySet, s"$label bm25 doc sets")
    gotBm.foreach { case (id, s) =>
      assert(math.abs(s - wantBm(id)) < 1e-9, s"$label bm25 score doc $id")
    }
    // WAND top-k rank identity on the mutated index for EVERY score mode
    for (m <- Seq[ScoreMode](ScoreMode.Tf, ScoreMode.TfAtMost(2.0),
        ScoreMode.TfIdf, ScoreMode.Bm25())) {
      val full = collectScores(idx.searchTerms(Seq(vocab(0), vocab(1)), MatchMode.Any, m))
      val want10 = full.toSeq.sortBy { case (d, s) => (-s, d) }.take(10)
      val got10 = idx.topK(idx.searchTerms(Seq(vocab(0), vocab(1)),
          MatchMode.Any, m, topK = 10), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got10.map(_._1) == want10.map(_._1), s"$label top-k ranks ($m)")
    }
  }

  /** reference-constant BM25 over the post-mutation corpus */
  private def naiveBm25(terms: Seq[String]): Map[Long, Double] = {
    val n = effective.size
    val avgdl = effective.values.map(_.split(" ").length).sum.toDouble / n
    val dfs = terms.map(t => t -> effective.values.count(_.split(" ").contains(t))).toMap
    effective.flatMap { case (id, text) =>
      val toks = text.split(" ")
      val s = terms.map { t =>
        val tf = toks.count(_ == t)
        if (tf == 0 || dfs(t) == 0) 0.0
        else {
          val idf = math.log((n - dfs(t) + 0.5) / (dfs(t) + 0.5) + 1.0)
          idf * tf * 3.0 / (tf + 2.0 * (1.0 - 0.75 + 0.75 * toks.length / avgdl))
        }
      }.sum
      if (s > 0) Some(id -> s) else None
    }
  }

  test("all match modes agree with naive on the post-mutation corpus") {
    assert(deleted.intersect(upserted.keySet).nonEmpty, "fuzz must cover resurrection")
    trials(mutated, "pre-compact")
    // delete/upsert keep corpus stats exact (no drift until compact)
    assert(mutated.meta.nDocs == effective.size)
    val wantAvgdl = effective.values.map(_.split(" ").length).sum.toDouble / effective.size
    assert(math.abs(mutated.meta.avgdl - wantAvgdl) < 1e-9,
      s"avgdl ${mutated.meta.avgdl} vs $wantAvgdl")
  }

  test("PARTIAL compact preserves every result under fuzz mutations") {
    // separate copy: the full-compact test below mutates $tmp/idx in place
    val p = s"$tmp/idx-partial"
    val df = baseCorpus.toSeq.sortBy(_._1).toDF("doc_id", "text")
    IndexBuilder.build(spark, df, "doc_id", "text", p,
      IndexConfig(tokenizer = "TokenBigram", bucketBits = 5))
    IncrementalIndex.delete(spark, p, deleted.toSeq.sorted)
    IncrementalIndex.upsert(spark, p,
      upserted.toSeq.sortBy(_._1).toDF("doc_id", "text"),
      "doc_id", "text", "seg-fuzz", IndexConfig(tokenizer = "TokenBigram"))
    // tombstones touch the base, so the whole run folds — the KEEP path is
    // StreamingSpec territory; here the point is result preservation
    val pc = IncrementalIndex.compactPartial(spark, p,
      IndexConfig(tokenizer = "TokenBigram", bucketBits = 5),
      minKeepPostings = 1000L)
    assert(pc.meta.deleteSegments.isEmpty)
    assert(pc.meta.nDocs == effective.size)
    assert(pc.meta.formatVersion == IndexBuilder.CurrentFormatVersion)
    trials(pc, "post-partial-compact")
  }

  test("multi-generation fuzz: rounds of delete/upsert/append with partial compacts") {
    // three mutation GENERATIONS, each followed by a partial compact —
    // stresses tombstone-generation arithmetic across re-foldings (a
    // tombstone's gen refers to the segment list it was committed against,
    // which each partial compact rewrites)
    val p = s"$tmp/idx-gen"
    val genRnd = new scala.util.Random(99L)
    var world = baseCorpus // expected corpus state
    IndexBuilder.build(spark, world.toSeq.sortBy(_._1).toDF("doc_id", "text"), "doc_id",
      "text", p, IndexConfig(tokenizer = "TokenBigram", bucketBits = 5))
    var nextId = nDocs.toLong
    for (round <- 0 until 3) {
      // delete a few live docs
      val dels = genRnd.shuffle(world.keys.toList).take(8)
      IncrementalIndex.delete(spark, p, dels.sorted)
      world = world -- dels
      // upsert: replace 4 live + resurrect 2 deleted
      val ups = (genRnd.shuffle(world.keys.toList).take(4) ++ dels.take(2))
        .map(id => id -> randTextSeeded(genRnd)).toMap
      IncrementalIndex.upsert(spark, p,
        ups.toSeq.sortBy(_._1).toDF("doc_id", "text"),
        "doc_id", "text", s"seg-g$round-u", IndexConfig(tokenizer = "TokenBigram"))
      world = world ++ ups
      // append brand-new docs
      val news = (0 until 6).map(_ => { val id = nextId; nextId += 1
        id -> randTextSeeded(genRnd) }).toMap
      IncrementalIndex.appendSegment(spark, p,
        news.toSeq.sortBy(_._1).toDF("doc_id", "text"),
        "doc_id", "text", s"seg-g$round-a", IndexConfig(tokenizer = "TokenBigram"))
      world = world ++ news
      // fold the small/touched runs only
      IncrementalIndex.compactPartial(spark, p,
        IndexConfig(tokenizer = "TokenBigram", bucketBits = 5),
        minKeepPostings = if (round % 2 == 0) 2000L else 100L)
      val idx = GraftIndex(spark, p)
      assert(idx.meta.deleteSegments.isEmpty, s"round $round tombstones left")
      assert(idx.meta.nDocs == world.size, s"round $round nDocs")
      // every match mode equals a naive recomputation of the world
      for (terms <- Seq(Seq(vocab(3)), Seq(vocab(5), vocab(12)))) {
        val got = collectScores(idx.searchTerms(terms, MatchMode.Any, ScoreMode.Tf))
        val want = world.flatMap { case (id, text) =>
          val s = terms.map(t => text.split(" ").count(_ == t)).sum.toDouble
          if (s > 0) Some(id -> s) else None
        }
        assert(got == want, s"round $round terms=$terms")
      }
      val gotBm = collectScores(idx.searchTerms(Seq(vocab(7)), MatchMode.Any, ScoreMode.Bm25()))
      val wantBm = naiveBm25Over(world, Seq(vocab(7)))
      assert(gotBm.keySet == wantBm.keySet, s"round $round bm25 sets")
      gotBm.foreach { case (id, s) =>
        assert(math.abs(s - wantBm(id)) < 1e-9, s"round $round bm25 doc $id") }
    }
  }

  private def randTextSeeded(r: scala.util.Random): String =
    (0 until (3 + r.nextInt(20))).map(_ => vocab(r.nextInt(vocab.length))).mkString(" ")

  /** reference-constant BM25 over an arbitrary corpus state */
  private def naiveBm25Over(corpus: Map[Long, String], terms: Seq[String]): Map[Long, Double] = {
    val n = corpus.size
    val avgdl = corpus.values.map(_.split(" ").length).sum.toDouble / n
    val dfs = terms.map(t => t -> corpus.values.count(_.split(" ").contains(t))).toMap
    corpus.flatMap { case (id, text) =>
      val toks = text.split(" ")
      val s = terms.map { t =>
        val tf = toks.count(_ == t)
        if (tf == 0 || dfs(t) == 0) 0.0
        else {
          val idf = math.log((n - dfs(t) + 0.5) / (dfs(t) + 0.5) + 1.0)
          idf * tf * 3.0 / (tf + 2.0 * (1.0 - 0.75 + 0.75 * toks.length / avgdl))
        }
      }.sum
      if (s > 0) Some(id -> s) else None
    }
  }

  // ---- rebuild equivalence: an uncompacted mutated index answers exactly
  // as a fresh build of its live docs, on a plain and a sectioned corpus --

  private val cfg5 = IndexConfig(tokenizer = "TokenBigram", bucketBits = 5)
  private val capKey = "spark.graft.smallQueryMaxPostings"
  private def withCap[A](cap: Long)(f: => A): A = {
    val old = spark.conf.getOption(capKey)
    spark.conf.set(capKey, cap.toString)
    try f finally old match {
      case Some(v) => spark.conf.set(capKey, v)
      case None => spark.conf.unset(capKey)
    }
  }

  /** `corpus` as index input: (doc_id, text), or sectioned (doc_id, title,
    * body) with the first two words as the title (every text has >= 3) */
  private def input(corpus: Map[Long, String], sectioned: Boolean) = {
    val rows = corpus.toSeq.sortBy(_._1)
    if (!sectioned) rows.toDF("doc_id", "text")
    else rows.map { case (id, t) =>
      val ws = t.split(" ")
      (id, ws.take(2).mkString(" "), ws.drop(2).mkString(" "))
    }.toDF("doc_id", "title", "body")
  }
  private def buildOf(path: String, corpus: Map[Long, String], sectioned: Boolean): GraftIndex =
    if (sectioned) IndexBuilder.buildSectioned(spark, input(corpus, sectioned), "doc_id",
      Seq("title", "body"), path, cfg5)
    else IndexBuilder.build(spark, input(corpus, sectioned), "doc_id", "text", path, cfg5)

  private val equivQueries = Seq(
    s"${vocab(0)} ${vocab(1)}" -> ScoreMode.Tf,
    s"${vocab(2)} OR ${vocab(9)}" -> ScoreMode.Bm25(),
    s"${vocab(3)} OR ${vocab(4)} OR ${vocab(5)}" -> ScoreMode.Tf,
    s"${vocab(6)} OR ${vocab(7)}" -> ScoreMode.Bm25(),
    ("\"" + vocab(0) + " " + vocab(1) + "\"") -> ScoreMode.Bm25())

  /** every answer of `got` equals `want`'s: term stats of every vocab word,
    * Select pages (two per query) with nHits at cap 0 and the default cap,
    * suggest and the decoded postings */
  private def assertRebuildEquivalent(got: String, want: String, label: String): Unit = {
    for (cap <- Seq(0L, GraftIndex.DefaultSmallQueryMaxPostings)) withCap(cap) {
      val (g, w) = (GraftIndex(spark, got), GraftIndex(spark, want))
      assert(g.termStats(vocab) == w.termStats(vocab), s"$label termStats, cap $cap")
      for ((q, score) <- equivQueries; (off, lim) <- Seq((0, 10), (3, -1))) {
        def page(idx: GraftIndex) = {
          val req = graft.operators.Select.Request(q, score, offset = off, limit = lim)
          val matched = graft.operators.Select.matches(idx, req)
          val (rows, nHits) = graft.operators.Select.page(matched, req)
          (rows.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
            nHits.getOrElse(matched.count()))
        }
        val ((gp, gn), (wp, wn)) = (page(g), page(w))
        val at = s"$label '$q' $score offset $off, cap $cap"
        assert(gn == wn, s"$at nHits")
        assert(gp.map(_._1) == wp.map(_._1), s"$at page")
        gp.zip(wp).foreach { case ((d, a), (_, b)) =>
          assert(math.abs(a - b) < 1e-9, s"$at score of doc $d: $a vs $b") }
      }
    }
    val (g, w) = (GraftIndex(spark, got), GraftIndex(spark, want))
    for (t <- Seq(vocab(0), vocab(5), vocab(17)))
      assert(graft.operators.Suggest.suggest(g, t).collect().toSeq ==
        graft.operators.Suggest.suggest(w, t).collect().toSeq, s"$label suggest $t")
    def postings(idx: GraftIndex) = idx.decodedPostings
      .select($"term", $"doc_id", $"tf".cast("long")).as[(String, Long, Long)].collect().toSet
    assert(postings(g) == postings(w), s"$label decodedPostings")
  }

  private def rebuildEquivalence(sectioned: Boolean): Unit = {
    val kind = if (sectioned) "sectioned" else "plain"
    val p = s"$tmp/equiv-$kind"
    buildOf(p, baseCorpus, sectioned)
    IncrementalIndex.delete(spark, p, deleted.toSeq.sorted)
    IncrementalIndex.upsert(spark, p, input(upserted, sectioned), "doc_id", "text",
      "seg-equiv", IndexConfig(tokenizer = "TokenBigram"))
    assert(GraftIndex(spark, p).meta.sections.nonEmpty == sectioned)
    val rebuilt = s"$tmp/equiv-$kind-rebuilt"
    buildOf(rebuilt, effective, sectioned)
    assertRebuildEquivalent(p, rebuilt, s"$kind mutated")
    IncrementalIndex.compactPartial(spark, p, cfg5)
    assert(GraftIndex(spark, p).meta.deleteSegments.isEmpty)
    assertRebuildEquivalent(p, rebuilt, s"$kind partial-compacted")
  }

  test("a mutated index answers as a rebuild of its live docs") {
    rebuildEquivalence(sectioned = false)
  }

  test("a mutated SECTIONED index answers as a rebuild of its live docs") {
    rebuildEquivalence(sectioned = true)
  }

  test("suggest reads each segment's own buckets on an appended index") {
    // the appended segment salts its ids with bucketBits sized from its
    // own 30-doc batch, not the base's 5
    val extra = (nDocs.toLong until nDocs + 30L).map(i =>
      i -> randTextSeeded(new scala.util.Random(i))).toMap
    val p = s"$tmp/equiv-appended"
    buildOf(p, baseCorpus, sectioned = false)
    IncrementalIndex.appendSegment(spark, p, input(extra, sectioned = false), "doc_id", "text",
      "seg-app", IndexConfig(tokenizer = "TokenBigram"))
    val rebuilt = s"$tmp/equiv-appended-rebuilt"
    buildOf(rebuilt, baseCorpus ++ extra, sectioned = false)
    assertRebuildEquivalent(p, rebuilt, "appended")
  }

  test("compact preserves every result and refreshes stats") {
    trials(mutated, "pre-compact-2") // ensure lazy init ran
    val compacted = IncrementalIndex.compact(spark, s"$tmp/idx",
      IndexConfig(tokenizer = "TokenBigram", bucketBits = 5))
    assert(compacted.meta.deleteSegments.isEmpty)
    assert(compacted.meta.nDocs == effective.size)
    trials(compacted, "post-compact")
  }
}
