package perfbench

import scala.collection.mutable

import graft.analyzer.{Tokenizer, TokenizeMode}
import graft.query.Bm25

/** A benchmark query in groonga query syntax. */
sealed trait Query { def text: String }
final case class AndTerms(terms: Seq[String]) extends Query {
  def text: String = terms.mkString(" ")
}
final case class OrTerms(terms: Seq[String]) extends Query {
  def text: String = terms.mkString(" OR ")
}
final case class Phrase(phrase: String) extends Query {
  def text: String = "\"" + phrase + "\""
}

final case class Hit(id: Long, score: Double)

/** Brute-force BM25 over a document set, from the public analyzer and
  * [[Bm25]] formulas only: every document is tokenized, every match is
  * scored, and the full ranking (score descending, doc id ascending) is
  * returned. It shares no code with the index, the kernel or Select. */
final class Oracle(tokenizer: Tokenizer, k1: Double = 2.0, b: Double = 0.75) {

  private def needed(q: Query): Seq[String] = q match {
    case AndTerms(ts) => ts
    case OrTerms(ts) => ts
    case Phrase(p) => tokenizer.tokenize(p, TokenizeMode.Get).map(_.term).toSeq
  }

  /** full rankings for `queries` over `docs` (id, text) */
  def rank(docs: Seq[(Long, String)], queries: Seq[Query]): Seq[Seq[Hit]] = {
    val want = queries.flatMap(needed).toSet
    // term -> per-doc (id, dl, positions); one pass, split over threads
    final case class Occ(id: Long, dl: Int, pos: Array[Int])
    val nThreads = math.max(1, Runtime.getRuntime.availableProcessors)
    val chunks = docs.grouped(math.max(1, (docs.size + nThreads - 1) / nThreads)).toVector
    final class Part {
      val occ = mutable.HashMap.empty[String, mutable.ArrayBuffer[Occ]]
      var nDocs = 0L
      var sumDl = 0L
    }
    val parts = chunks.map(_ => new Part)
    val threads = chunks.zip(parts).map { case (chunk, part) =>
      val t = new Thread(() => chunk.foreach { case (id, text) =>
        val toks = tokenizer.tokenize(text)
        if (toks.nonEmpty) {
          part.nDocs += 1
          part.sumDl += toks.length
          val pos = mutable.HashMap.empty[String, mutable.ArrayBuilder.ofInt]
          toks.foreach { t =>
            if (want.contains(t.term))
              pos.getOrElseUpdate(t.term, new mutable.ArrayBuilder.ofInt) += t.pos
          }
          pos.foreach { case (term, ps) =>
            part.occ.getOrElseUpdate(term, mutable.ArrayBuffer.empty) +=
              Occ(id, toks.length, ps.result())
          }
        }
      })
      t.start()
      t
    }
    threads.foreach(_.join())
    val nDocs = parts.map(_.nDocs).sum
    val avgdl = if (nDocs == 0) 0.0 else parts.map(_.sumDl).sum.toDouble / nDocs
    val occ: Map[String, Map[Long, Occ]] = want.iterator.map { t =>
      t -> parts.iterator.flatMap(_.occ.getOrElse(t, Nil)).map(o => o.id -> o).toMap
    }.toMap
    def idf(t: String): Double = Bm25.idf(nDocs, occ(t).size.toLong)
    def w(tf: Double, dl: Int): Double = Bm25.weight(tf, dl.toDouble, avgdl, k1, b)

    queries.map { q =>
      val scored: Iterable[Hit] = q match {
        case AndTerms(ts) =>
          val lists = ts.distinct.map(occ)
          lists.minBy(_.size).keys.filter(id => lists.forall(_.contains(id))).map { id =>
            Hit(id, ts.distinct.map(t => idf(t) * w(occ(t)(id).pos.length, occ(t)(id).dl)).sum)
          }
        case OrTerms(ts) =>
          ts.distinct.flatMap(t => occ(t).keys).distinct.map { id =>
            Hit(id, ts.distinct.filter(t => occ(t).contains(id))
              .map(t => idf(t) * w(occ(t)(id).pos.length, occ(t)(id).dl)).sum)
          }
        case Phrase(p) =>
          val toks = tokenizer.tokenize(p, TokenizeMode.Get).map(t => (t.term, t.pos)).toSeq
          val lists = toks.map(_._1).distinct.map(occ)
          val base = toks.minBy(_._2)
          val others = toks.filterNot(_ eq base)
          val maxIdf = toks.map(t => idf(t._1)).max
          lists.minBy(_.size).keys.filter(id => lists.forall(_.contains(id))).flatMap { id =>
            val n = occ(base._1)(id).pos.count { p0 =>
              others.forall { case (t, qp) =>
                java.util.Arrays.binarySearch(occ(t)(id).pos, p0 + (qp - base._2)) >= 0
              }
            }
            if (n == 0) None else Some(Hit(id, maxIdf * w(n.toDouble, occ(base._1)(id).dl)))
          }
      }
      scored.toVector.sortBy(h => (-h.score, h.id))
    }
  }
}

/** The correctness gate: an engine top-k must be rank-identical to the
  * oracle's ranking. Ids must match position by position; the only
  * freedom allowed is between docs whose oracle scores tie to 1e-9
  * relative (the engine may sum a document's term scores in another
  * order). Scores, where the engine returns them unrounded, must match to
  * 1e-6 relative, and a reported hit count must equal the oracle's. */
object Gate {
  val ScoreRel = 1e-6
  val TieRel = 1e-9

  private def close(a: Double, b: Double, rel: Double): Boolean =
    math.abs(a - b) <= rel * math.max(math.abs(a), math.abs(b)) + 1e-12

  /** None when the engine result passes, else the reason it fails */
  def check(oracle: Seq[Hit], engine: Seq[Hit], k: Int, withScores: Boolean,
      nHits: Option[Long]): Option[String] = {
    val byId = oracle.iterator.map(h => h.id -> h.score).toMap
    val want = math.min(k, oracle.size)
    if (nHits.exists(_ != oracle.size.toLong))
      return Some(s"n_hits ${nHits.get} != oracle ${oracle.size}")
    if (engine.size != want) return Some(s"${engine.size} rows != oracle $want")
    if (engine.map(_.id).distinct.size != engine.size) return Some("duplicate ids")
    var i = 0
    while (i < engine.size) {
      val e = engine(i)
      val o = oracle(i)
      val es = byId.get(e.id) match {
        case None => return Some(s"rank $i: doc ${e.id} does not match the query")
        case Some(s) => s
      }
      if (e.id != o.id && !close(es, o.score, TieRel))
        return Some(s"rank $i: doc ${e.id} (oracle score $es) where oracle has ${o.id} (${o.score})")
      if (withScores && !close(e.score, es, ScoreRel))
        return Some(s"rank $i: doc ${e.id} score ${e.score} != oracle $es")
      i += 1
    }
    None
  }

  /** The gate must reject perturbed results: built from a synthetic
    * ranking with distinct scores. Returns the failures (empty = the gate
    * works). */
  def selfTest(): Seq[String] = {
    val oracle = (0 until 15).map(i => Hit(100L + i * 7, 10.0 - i * 0.5))
    val exact = oracle.take(10)
    val cases: Seq[(String, Seq[Hit], Option[Long], Boolean)] = Seq(
      ("exact result", exact, Some(15L), true),
      ("swapped ranks 0 and 1", exact.updated(0, exact(1)).updated(1, exact(0)), Some(15L), false),
      ("score off by 1e-5", exact.updated(3, exact(3).copy(score = exact(3).score * (1 + 1e-5))),
        Some(15L), false),
      ("foreign doc id", exact.updated(9, Hit(99999L, exact(9).score)), Some(15L), false),
      ("missing row", exact.take(9), Some(15L), false),
      ("wrong n_hits", exact, Some(14L), false),
      ("next-best doc instead of rank 9", exact.updated(9, oracle(10)), Some(15L), false))
    cases.flatMap { case (name, engine, n, shouldPass) =>
      val passed = check(oracle, engine, 10, withScores = true, n).isEmpty
      if (passed == shouldPass) None
      else Some(s"gate self-test '$name': expected ${if (shouldPass) "pass" else "reject"}")
    }
  }
}
