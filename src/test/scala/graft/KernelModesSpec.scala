package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analyzer.{Analyzers, TokenizeMode}
import graft.index.{GraftIndex, IndexBuilder, IndexConfig, PostingBlockRow}
import graft.query._

/** Every position mode (Phrase, Near, near-phrase ordered and unordered,
  * near-phrase-product ordered and unordered) under every score mode (Tf,
  * Bm25, TfAtMost, TfIdf), on a random sid-less corpus and on a random
  * three-section corpus with section weights, against a brute-force
  * reference written here from the modes' definitions: positions per
  * section, phrase starts, windows, legs and phrase units. */
class KernelModesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft-modes").toString
  private val tokenizer = Analyzers.byName("TokenBigram")
  private val vocab = Seq("ash", "birch", "cedar", "elm", "fir", "hazel",
    "larch", "maple", "oak", "pine", "rowan", "yew")

  /** words drawn Zipf-like from `vocab`, so some terms are rare */
  private def words(rnd: scala.util.Random, n: Int): String = {
    val cum = vocab.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail
    Seq.fill(n) {
      val x = rnd.nextDouble() * cum.last
      vocab(cum.indexWhere(_ >= x))
    }.mkString(" ")
  }

  /** a corpus: docs as section texts, the index over them, and the weight
    * of each section (empty: every section weighs 1) */
  private final case class Corpus(docs: Seq[(Long, Seq[String])], idx: GraftIndex,
      weights: Seq[Double]) {
    val ref = new Reference(docs, weights)
    lazy val blocks: Seq[Array[PostingBlockRow]] =
      idx.postings.as[PostingBlockRow].collect().groupBy(_.bucket).values.toSeq
  }

  private lazy val plain: Corpus = {
    val rnd = new scala.util.Random(11)
    val docs = (0L until 300L).map(i => i -> Seq(words(rnd, 4 + rnd.nextInt(21))))
    val idx = IndexBuilder.build(spark, docs.map { case (i, s) => (i, s.head) }
      .toDF("doc_id", "text").coalesce(2), "doc_id", "text", s"$tmp/plain",
      IndexConfig(bucketBits = 5))
    Corpus(docs, idx, Nil)
  }

  private lazy val sectioned: Corpus = {
    val rnd = new scala.util.Random(23)
    val docs = (0L until 300L).map(i =>
      i -> Seq(words(rnd, 1 + rnd.nextInt(6)), words(rnd, rnd.nextInt(15)), words(rnd, rnd.nextInt(5))))
    val idx = IndexBuilder.buildSectioned(spark,
      docs.map { case (i, s) => (i, s(0), s(1), s(2)) }.toDF("doc_id", "title", "body", "tail")
        .coalesce(2), "doc_id", Seq("title", "body", "tail"), s"$tmp/sectioned",
      IndexConfig(bucketBits = 5))
    Corpus(docs, idx, Seq(2.5, 0.3, 1.7))
  }

  private val scores: Seq[ScoreMode] =
    Seq(ScoreMode.Tf, ScoreMode.Bm25(), ScoreMode.TfAtMost(2.0), ScoreMode.TfIdf)

  /** The brute-force reference. Positions restart per section (sid =
    * section index + 1); df counts (doc, section) postings; a leg scores
    * tf under the score mode, a phrase unit scores like one leg of weight
    * 1 whose idf is its rarest member's. */
  private final class Reference(docs: Seq[(Long, Seq[String])], weights: Seq[Double]) {
    val pos: Map[Long, Seq[Map[String, Seq[Int]]]] = docs.map { case (id, secs) =>
      id -> secs.map(t => tokenizer.tokenize(t).toSeq.groupBy(_.term)
        .map { case (term, ts) => term -> ts.map(_.pos).sorted })
    }.toMap
    val dl: Map[Long, Int] =
      docs.map { case (id, secs) => id -> secs.map(tokenizer.tokenize(_).length).sum }.toMap
    val n: Long = dl.count(_._2 > 0).toLong
    val avgdl: Double = dl.values.sum.toDouble / n
    val df: Map[String, Long] = pos.values.toSeq.flatMap(_.flatMap(_.keys))
      .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }

    def w(sid: Int): Double = if (weights.isEmpty) 1.0 else weights(sid - 1)
    def sections(id: Long): Seq[(Int, Map[String, Seq[Int]])] =
      pos(id).zipWithIndex.map { case (p, i) => (i + 1, p) }
    def occurs(id: Long, t: String): Boolean = pos(id).exists(_.contains(t))

    def leg(score: ScoreMode, tf: Double, id: Long, dfs: Seq[Long]): Double = score match {
      case ScoreMode.Tf => tf
      case ScoreMode.Bm25(k1, b) =>
        val idf = dfs.map(d => math.log((n - d + 0.5) / (d + 0.5) + 1.0)).max
        idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl(id) / avgdl))
      case ScoreMode.TfAtMost(max) => math.min(tf, max)
      case ScoreMode.TfIdf =>
        val est = dfs.sum.toDouble / dfs.size
        if (est <= 0 || est >= n) 1.0 else math.max(tf * math.log(n / est), 1.0)
    }

    /** the starts of `phrase` ((term, qpos)) per section holding one */
    def starts(id: Long, phrase: Seq[(String, Int)]): Seq[(Int, Seq[Int])] = {
      val q0 = phrase.map(_._2).min
      sections(id).flatMap { case (sid, p) =>
        val st = p.getOrElse(phrase.find(_._2 == q0).get._1, Nil).filter(s =>
          phrase.forall { case (t, qp) => p.get(t).exists(_.contains(s + qp - q0)) })
        if (st.isEmpty) None else Some(sid -> st)
      }
    }

    def phrase(phrase: Seq[(String, Int)], score: ScoreMode): Map[Long, Double] =
      docs.map(_._1).flatMap { id =>
        val st = starts(id, phrase)
        if (st.isEmpty) None
        else Some(id -> leg(score, st.map { case (sid, s) => s.length * w(sid) }.sum, id,
          phrase.map(t => df(t._1))))
      }.toMap

    def near(terms: Seq[String], k: Int, score: ScoreMode): Map[Long, Double] =
      docs.map(_._1).flatMap { id =>
        val inWindow = sections(id).exists { case (_, p) =>
          terms.forall(p.contains) && terms.flatMap(p).exists(x =>
            terms.forall(t => p(t).exists(q => q >= x && q <= x + k)))
        }
        if (!inWindow) None
        else Some(id -> terms.map { t =>
          leg(score, sections(id).map { case (sid, p) => p.get(t).fold(0)(_.length) * w(sid) }.sum,
            id, Seq(df(t)))
        }.sum)
      }.toMap

    /** near-phrase-product over groups of alternative phrases; a plain
      * near-phrase has one alternative per group */
    def nearPhrase(groups: Seq[Seq[Seq[(String, Int)]]], k: Int, ordered: Boolean,
        score: ScoreMode): Map[Long, Double] = {
      // an alternative with a term the index does not know is dropped
      val known = groups.map(_.filter(alt => alt.nonEmpty && alt.forall(t => df.contains(t._1))))
      if (known.exists(_.isEmpty)) return Map.empty
      docs.map(_._1).flatMap { id =>
        // per group: sid -> union of the starts of the alternatives whose
        // terms all occur in the doc
        val st: Seq[Map[Int, Seq[Int]]] = known.map(_.filter(_.forall(t => occurs(id, t._1)))
          .flatMap(starts(id, _)).groupBy(_._1).map { case (sid, ss) => sid -> ss.flatMap(_._2).distinct })
        val inWindow = st.forall(_.nonEmpty) && st.map(_.keySet).reduce(_ intersect _).exists { sid =>
          val ss = st.map(_(sid))
          if (ordered) ss.head.exists(s0 => chain(ss, 1, s0, s0, k))
          else ss.flatten.exists(x => ss.forall(_.exists(q => q >= x && q <= x + k)))
        }
        if (!inWindow) None
        else {
          val members = known.flatten.flatten.map(_._1).filter(occurs(id, _))
          Some(id -> leg(score, st.flatMap(_.map { case (sid, s) => s.length * w(sid) }).sum,
            id, members.map(df)))
        }
      }.toMap
    }

    private def chain(ss: Seq[Seq[Int]], g: Int, prev: Int, s0: Int, k: Int): Boolean =
      g == ss.length || ss(g).exists(s => s > prev && s - s0 <= k && chain(ss, g + 1, s, s0, k))
  }

  /** the query's tokens, as the index analyzes them */
  private def analyze(s: String): Seq[(String, Int)] =
    tokenizer.tokenize(s, TokenizeMode.Get).toSeq.map(t => (t.term, t.pos))

  /** the kernel's matches over every bucket of `c`, the query resolved
    * the way the index resolves it, with `c`'s section weights */
  private def kernel(c: Corpus, groups: Seq[Seq[Seq[(String, Int)]]], mode: MatchMode,
      score: ScoreMode): Map[Long, Double] = {
    val meta = c.idx.meta
    val stats = c.idx.termStats(groups.flatten.flatten.map(_._1).distinct)
    val rts = for {
      (alts, g) <- groups.zipWithIndex
      (alt, a) <- alts.zipWithIndex
      if alt.forall(t => stats.contains(t._1))
      (t, p) <- alt
    } yield ResolvedTerm(t, stats(t).df, Bm25.idf(meta.nDocs, stats(t).df), 1.0, p, g, a)
    val q = ResolvedQuery(rts.toArray, mode, score, meta.avgdl, 0,
      sectionWeights = c.weights.toArray, nDocs = meta.nDocs)
    c.blocks.flatMap(bs => MatchKernel.run(q, bs.iterator)).toMap
  }

  private def scoresOf(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def check(label: String, got: Map[Long, Double], want: Map[Long, Double]): Unit = {
    assert(got.keySet == want.keySet, label)
    got.foreach { case (d, s) =>
      assert(math.abs(s - want(d)) <= 1e-9 * math.max(1.0, math.abs(want(d))), s"$label doc $d")
    }
  }

  /** phrases of 2-3 words taken from the corpus' docs (so they match), and
    * one word */
  private def phrases(c: Corpus, seed: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val long = c.docs.flatMap(_._2).map(_.split(" ")).filter(_.length >= 3)
    Seq.fill(3) {
      val ws = long(rnd.nextInt(long.length))
      val len = 2 + rnd.nextInt(2)
      val at = rnd.nextInt(ws.length - len + 1)
      ws.slice(at, at + len).mkString(" ")
    } :+ vocab(rnd.nextInt(4))
  }

  private val corpora: Seq[(String, () => Corpus)] =
    Seq("sid-less" -> (() => plain), "sectioned" -> (() => sectioned))

  for ((name, corpus) <- corpora) {
    test(s"Phrase under every score mode equals the reference ($name)") {
      val c = corpus()
      var matched = 0
      for (p <- phrases(c, 1); score <- scores) {
        val toks = analyze(p)
        val want = c.ref.phrase(toks, score)
        matched += want.size
        check(s"$p $score", kernel(c, Seq(Seq(toks)), MatchMode.Phrase, score), want)
        val api =
          if (c.weights.isEmpty) c.idx.searchPhrase(p, score)
          else c.idx.searchTerms(toks.map(_._1), MatchMode.Phrase, score,
            sectionWeights = Map("title" -> 2.5, "body" -> 0.3, "tail" -> 1.7))
        check(s"$p $score (index)", scoresOf(api), want)
      }
      assert(matched > 0)
    }

    test(s"Near under every score mode equals the reference ($name)") {
      val c = corpus()
      val rnd = new scala.util.Random(2)
      var matched = 0
      for (_ <- 0 until 4; score <- scores) {
        val terms = rnd.shuffle(vocab.take(6)).take(2 + rnd.nextInt(2))
        val k = 2 + rnd.nextInt(4)
        val want = c.ref.near(terms, k, score)
        matched += want.size
        val toks = terms.zipWithIndex
        check(s"$terms $k $score", kernel(c, Seq(Seq(toks)), MatchMode.Near(k), score), want)
        check(s"$terms $k $score (index)", scoresOf(c.idx.searchTerms(terms, MatchMode.Near(k),
          score, sectionWeights = Map("title" -> 2.5, "body" -> 0.3, "tail" -> 1.7))), want)
      }
      assert(matched > 0)
    }

    for (ordered <- Seq(false, true)) {
      val kind = if (ordered) "ordered" else "unordered"
      test(s"$kind near-phrase under every score mode equals the reference ($name)") {
        val c = corpus()
        val ps = phrases(c, 3)
        var matched = 0
        for (Seq(a, b) <- Seq(ps.take(2), Seq(ps(2), ps(3)), Seq(ps(3), ps(0))); score <- scores) {
          val groups = Seq(Seq(analyze(a)), Seq(analyze(b)))
          val want = c.ref.nearPhrase(groups, 8, ordered, score)
          matched += want.size
          check(s"$a|$b $score", kernel(c, groups, MatchMode.NearPhraseProduct(8, ordered), score), want)
          if (c.weights.isEmpty)
            check(s"$a|$b $score (index)",
              scoresOf(c.idx.searchNearPhrase(Seq(a, b), 8, ordered, score)), want)
        }
        assert(matched > 0)
      }

      test(s"$kind near-phrase-product under every score mode equals the reference ($name)") {
        val c = corpus()
        val ps = phrases(c, 4)
        var matched = 0
        val queries = Seq(
          Seq(Seq(ps(0), ps(3)), Seq(ps(1), "zzzunknown")),
          Seq(Seq(ps(2)), Seq(ps(1), ps(0), ps(3))),
          Seq(Seq(ps(3), "zzzunknown fir"), Seq(ps(2)), Seq(ps(0), ps(1))))
        for (gs <- queries; score <- scores) {
          val groups = gs.map(_.map(analyze(_)))
          val want = c.ref.nearPhrase(groups, 10, ordered, score)
          matched += want.size
          check(s"$gs $score",
            kernel(c, groups, MatchMode.NearPhraseProduct(10, ordered), score), want)
          if (c.weights.isEmpty)
            check(s"$gs $score (index)",
              scoresOf(c.idx.searchNearPhraseProduct(gs, 10, ordered, score)), want)
        }
        assert(matched > 0)
      }
    }
  }
}
