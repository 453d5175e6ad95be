package graft.query

import graft.codec.{DecodedBlock, PostingCodec}
import graft.index.PostingBlockRow

import scala.collection.mutable

/** Match modes, mirroring groonga's operator set executed by grn_ii_select
  * (/root/reference/lib/ii.cpp:14680; dispatch lib/table_selector.c:1171). */
sealed trait MatchMode extends Serializable {
  /** a doc matches only when it holds every term of one alternative of
    * each phrase group — for every mode but NearPhraseProduct, every query
    * term. So a term the index does not know drops its alternative, and a
    * group left without one matches nothing. */
  def needsEveryTerm: Boolean = this match {
    case MatchMode.Any | _: MatchMode.Quorum => false
    case _ => true
  }
  /** the match reads term positions: the index must be built withPositions */
  def needsPositions: Boolean = this match {
    case MatchMode.Phrase | _: MatchMode.Near | _: MatchMode.NearPhraseProduct => true
    case _ => false
  }
}
object MatchMode {
  /** conjunctive — all terms (GRN_OP_MATCH over AND-merged result set) */
  case object All extends MatchMode
  /** disjunctive — any term, scores accumulate (OR merge) */
  case object Any extends MatchMode
  /** position-adjacent phrase (the EXACT-mode phrase check,
    * /root/reference/lib/ii.cpp:13538-13605) */
  case object Phrase extends MatchMode
  /** all terms within a window (GRN_OP_NEAR, /root/reference/lib/ii.cpp:13383-13533) */
  final case class Near(maxInterval: Int) extends MatchMode
  /** NEAR_PHRASE[_PRODUCT]: every phrase GROUP (terms keyed by
    * ResolvedTerm.phraseId) occurs, its phrase start positions within
    * `maxInterval` of the other groups' in one section; `ordered`
    * additionally requires starts ascending in group order. A group is a
    * set of alternatives (keyed by ResolvedTerm.altId) whose starts are
    * the union over its alternatives, so one alternative per group must
    * land inside the window; plain NEAR_PHRASE has one alternative per
    * group (GRN_OP_NEAR_PHRASE / GRN_OP_ORDERED_NEAR_PHRASE and their
    * _PRODUCT forms, /root/reference/lib/ii.cpp:11210+, 12903+) */
  final case class NearPhraseProduct(maxInterval: Int, ordered: Boolean) extends MatchMode
  /** at least `min` distinct terms present (GRN_OP_QUORUM) */
  final case class Quorum(min: Int) extends MatchMode
}

sealed trait ScoreMode extends Serializable
object ScoreMode {
  /** groonga default: score = sum of occurrences x weight
    * (record_score=(n_occurrences+total_weights)*column_weight,
    * /root/reference/lib/ii.cpp:13694-13696) */
  case object Tf extends ScoreMode
  /** Okapi BM25 with the reference's constants and idf
    * (/root/reference/lib/tokenizers.c:2110-2111, 2637-2652) */
  final case class Bm25(k1: Double = 2.0, b: Double = 0.75) extends ScoreMode
  /** named scorer proc scorer_tf_at_most(max): per-leg score = min(tf, max)
    * (/root/reference/lib/scorers.c:55-90) */
  final case class TfAtMost(max: Double) extends ScoreMode
  /** named scorer proc scorer_tf_idf: per-leg score =
    * max(tf * ln(nDocs / (sum(df)/n_tokens)), 1), or 1 when the estimate
    * reaches the corpus size (/root/reference/lib/scorers.c:26-53) */
  case object TfIdf extends ScoreMode
}

final case class ResolvedTerm(
    term: String, df: Long, idf: Double, weight: Double, qpos: Int,
    /** phrase-group id for NearPhraseProduct (0 for everything else); qpos
      * is then the offset within the phrase */
    phraseId: Int = 0,
    /** alternative id within the phrase group (NEAR_PHRASE_PRODUCT: a
      * group's starts are the UNION over its alternatives) */
    altId: Int = 0)

final case class ResolvedQuery(
    terms: Array[ResolvedTerm],
    mode: MatchMode,
    score: ScoreMode,
    avgdl: Double,
    /** per-bucket top-k pruning (0 = emit every match). Rank-safe: docs are
      * scanned in ascending docId and ties lose to earlier docs, so the
      * per-bucket top-k always contains the bucket's contribution to the
      * global top-k. */
    topK: Int,
    /** per-section weight, indexed by sid-1 (match_columns "a*10||b" →
      * [10, 1], lib/ii.cpp:13694-13696 column_weight). Empty = 1.0 each. */
    sectionWeights: Array[Double] = Array.emptyDoubleArray,
    /** corpus doc count, needed only by ScoreMode.TfIdf's query idf */
    nDocs: Long = 0L) {
  def sectionWeight(sid: Int): Double =
    if (sectionWeights.isEmpty || sid - 1 >= sectionWeights.length) 1.0
    else sectionWeights(sid - 1)

  /** scorer_tf_idf leg idf over `n` terms whose df sum to `dfSum`:
    * ln(nDocs / (dfSum/n)), 0 when the estimate reaches the corpus (the
    * record then scores min 1.0) */
  def tfIdfLegIdf(dfSum: Long, n: Int): Double = {
    val est = dfSum.toDouble / n
    if (est <= 0 || est >= nDocs) 0.0 else math.log(nDocs / est)
  }
}

object Bm25 {
  /** idf = ln((N - df + 0.5)/(df + 0.5) + 1) — reference formula at
    * /root/reference/lib/tokenizers.c:2637-2652. */
  def idf(nDocs: Long, df: Long): Double =
    math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0)

  def weight(tf: Double, dl: Double, avgdl: Double, k1: Double, b: Double): Double =
    tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
}

/** Streaming cursor over one term's posting blocks within one bucket.
  * Blocks must be ordered by blk; docIds ascend across and within blocks.
  * Block min/max docs act as skip pointers (advanceTo skips whole blocks
  * without decoding — role of chunk-header dgaps,
  * /root/reference/lib/ii.cpp:16200-16219, cursor skip :8139).
  *
  * Iteration is by DOC GROUP: with a sectioned index consecutive postings
  * may share a docId (one per section); doc/score/next/advanceTo treat the
  * whole group as one logical posting. The builder never splits a doc's
  * group across blocks. Without sections the group is always one posting
  * (the fast path).
  */
final class TermCursor(val rt: ResolvedTerm, q: ResolvedQuery, blocks: Array[PostingBlockRow]) {
  private var bi = 0
  private var block: DecodedBlock = _
  private var i = 0 // group start
  private var gEnd = 0 // group end (exclusive), same block
  private var posBase = 0 // positions offset of group start
  var exhausted: Boolean = blocks.isEmpty
  if (!exhausted) loadBlock()

  private def loadBlock(): Unit = {
    MatchKernel.statBlocksDecoded.add(1L)
    block = PostingCodec.decode(blocks(bi).payload)
    i = 0
    posBase = 0
    setGroup()
  }
  MatchKernel.statBlocksTotal.add(blocks.length.toLong)

  /** every block carries a valid group-summed tf bound (max_gtf >= 0) —
    * false only for blocks written by a pre-v2 build, which must not WAND */
  def hasGroupBounds: Boolean = {
    var j = 0
    while (j < blocks.length) {
      if (blocks(j).max_gtf < 0) return false
      j += 1
    }
    true
  }

  private def setGroup(): Unit = {
    gEnd = i + 1
    if (block.sids.nonEmpty)
      while (gEnd < block.count && block.docIds(gEnd) == block.docIds(i)) gEnd += 1
  }

  def doc: Long = block.docIds(i)
  def dl: Int = block.dls(i) // whole-doc dl, same for every section posting
  /** this leg's scorer_tf_idf idf, fixed per query */
  private val tfIdf = q.tfIdfLegIdf(rt.df, 1)
  /** the current doc group's score as one leg of the query */
  def score: Double = MatchKernel.legScore(q, weightedTf, dl, rt.idf, tfIdf, rt.weight)
  /** section-weighted tf of the current doc group (empty weights = 1.0) */
  private def weightedTf: Double = {
    if (block.sids.isEmpty && q.sectionWeights.isEmpty) return block.tfs(i).toDouble
    var s = 0.0
    var j = i
    while (j < gEnd) {
      val sid = if (block.sids.isEmpty) 1 else block.sids(j)
      s += block.tfs(j) * q.sectionWeight(sid)
      j += 1
    }
    s
  }
  /** per-section positions of the current group: (sid, ascending positions) */
  def groupPositions: Array[(Int, Array[Int])] = {
    val out = new Array[(Int, Array[Int])](gEnd - i)
    var off = posBase
    var j = i
    while (j < gEnd) {
      val p = new Array[Int](block.tfs(j))
      System.arraycopy(block.positions, off, p, 0, p.length)
      out(j - i) = ((if (block.sids.isEmpty) 1 else block.sids(j), p))
      off += block.tfs(j)
      j += 1
    }
    out
  }
  // ---- Block-Max WAND bounds (Ding & Suel 2011) ----
  // ubBlock(i): score upper bound of block i = idf x weight x bm25(maxTf, minDl).
  // ubSuffix(i): max over blocks i..end — a LIST-remaining bound, valid for
  // every posting this cursor can still emit. Pivot selection and the
  // no-pivot early exit must use ubSuffix (a later block can have a higher
  // max_tf / lower min_dl than the current one); the current-block bound is
  // only valid as the secondary in-block check.
  private var ubBlock: Array[Double] = _
  private var ubSuffix: Array[Double] = _

  /** per-block score upper bounds for the query's score mode — every mode
    * is monotone in tf (and, for BM25, anti-monotone in dl), so the block's
    * tf bound / min_dl give a sound bound. The tf bound is
    * maxSectionWeight x max_gtf: a doc group's weighted tf is
    * Σ_s w_s·tf_s <= maxW·Σ_s tf_s <= maxW·max_gtf (sid-less blocks have
    * max_gtf == max_tf and maxW == 1, reducing to the classic bound). */
  def initBounds(): Unit = {
    ubBlock = new Array[Double](blocks.length)
    ubSuffix = new Array[Double](blocks.length)
    val maxW =
      if (q.sectionWeights.isEmpty) 1.0 else q.sectionWeights.max
    var j = 0
    while (j < blocks.length) {
      val maxTf = math.max(blocks(j).max_gtf, blocks(j).max_tf).toDouble * maxW
      val ub = MatchKernel.legScore(q, maxTf, blocks(j).min_dl, rt.idf, tfIdf, rt.weight)
      // A NEGATIVE leg multiplier inverts the max-tf bound into a lower
      // bound (reachable: sectioned df counts (doc,section) postings, so
      // df > nDocs makes the reference BM25 idf ln((N-df+0.5)/(df+0.5)+1)
      // negative; term weights can be negative too). Such a leg only ever
      // contributes <= 0 to a score, so 0 is a sound — if loose — upper
      // bound; clamping costs nothing on the normal positive path.
      ubBlock(j) = math.max(0.0, ub)
      j += 1
    }
    j = blocks.length - 1
    var mx = 0.0
    while (j >= 0) {
      if (ubBlock(j) > mx) mx = ubBlock(j)
      ubSuffix(j) = mx
      j -= 1
    }
  }

  /** upper bound over ALL postings this cursor can still emit */
  def remainingUpperBound: Double = if (exhausted) 0.0 else ubSuffix(bi)
  /** upper bound over the current block only */
  def currentBlockUpperBound: Double = ubBlock(bi)
  /** last docId of the current block (block-skip boundary) */
  def currentBlockMaxDoc: Long = blocks(bi).max_doc

  /** advance past the current doc group */
  def next(): Unit = {
    if (exhausted) return
    var j = i
    while (j < gEnd) { posBase += block.tfs(j); j += 1 }
    i = gEnd
    if (i >= block.count) {
      bi += 1
      if (bi >= blocks.length) exhausted = true else loadBlock()
    } else setGroup()
  }

  /** advance to the first doc group with docId >= target */
  def advanceTo(target: Long): Unit = {
    if (exhausted) return
    // skip whole blocks by max_doc
    if (blocks(bi).max_doc < target) {
      var nb = bi + 1
      while (nb < blocks.length && blocks(nb).max_doc < target) nb += 1
      if (nb >= blocks.length) { exhausted = true; return }
      bi = nb
      loadBlock()
    }
    // in-block: linear from i (blocks are small); maintain posBase
    while (!exhausted && block.docIds(i) < target) next()
  }
}

object MatchKernel {

  /** Local-mode instrumentation: blocks seen by cursors vs blocks actually
    * decoded — the difference is what block-max pruning (WAND skips + block
    * skip pointers) saved. JVM-wide LongAdders, valid under local[*] where
    * tasks share the driver JVM (tests + bench); on a real cluster these
    * would be SparkMetrics/accumulators, but no correctness depends on them. */
  val statBlocksTotal = new java.util.concurrent.atomic.LongAdder
  val statBlocksDecoded = new java.util.concurrent.atomic.LongAdder
  def resetStats(): Unit = { statBlocksTotal.reset(); statBlocksDecoded.reset() }
  /** (blocksSeen, blocksDecoded) since the last resetStats() */
  def readStats(): (Long, Long) = (statBlocksTotal.sum(), statBlocksDecoded.sum())

  /** Run the match over one bucket's LIVE blocks (graft.index.Tombstones
    * already applied) for all query terms.
    * Emits (docId, score) matches (per-bucket top-k if q.topK > 0).
    * A mode that needs every term runs the conjunctive leapfrog, unless a
    * phrase group of the query has several alternatives: then no one term
    * is needed, and the doc-at-a-time product walk runs instead. */
  def run(q: ResolvedQuery, rows: Iterator[PostingBlockRow]): Iterator[(Long, Double)] = {
    // organize: term -> blocks ordered by blk
    val byTerm = new mutable.HashMap[String, mutable.ArrayBuffer[PostingBlockRow]]()
    rows.foreach { r => byTerm.getOrElseUpdate(r.term, new mutable.ArrayBuffer[PostingBlockRow]()) += r }
    val cursors: Array[TermCursor] = q.terms.flatMap { rt =>
      // order by doc range (not blk): blocks may come from several segments
      // of an incrementally-appended index; append-only docIds keep segment
      // ranges disjoint, so (min_doc, blk) restores one ascending stream;
      // an upserted doc's new postings overlap that stream, and then the
      // term's blocks are merged into one
      byTerm.get(rt.term).map { bs =>
        val sorted = bs.sortBy(b => (b.min_doc, b.blk)).toArray
        var overlapping = false
        var i = 1
        while (!overlapping && i < sorted.length) {
          overlapping = sorted(i).min_doc <= sorted(i - 1).max_doc
          i += 1
        }
        new TermCursor(rt, q,
          if (overlapping) PostingBlockRow.rebuild(sorted).toArray else sorted)
      }
    }
    val results: Iterator[(Long, Double)] = q.mode match {
      case MatchMode.Any => disjunctive(q, cursors, minMatch = 1)
      case MatchMode.Quorum(m) => disjunctive(q, cursors, minMatch = m)
      case MatchMode.NearPhraseProduct(mi, ord) if !oneAlternativePerGroup(q.terms) =>
        productMatch(q, cursors, mi, ord)
      case _ =>
        if (cursors.length < q.terms.length) Iterator.empty // a term missing in bucket
        else conjunctive(q, cursors)
    }
    if (q.topK > 0) topK(results, q.topK) else results
  }

  private def oneAlternativePerGroup(terms: Array[ResolvedTerm]): Boolean =
    terms.forall(t => terms.forall(u => u.phraseId != t.phraseId || u.altId == t.altId))

  /** The score of one leg: a term's doc group, its block bound, or a phrase
    * unit scored as one term. `tf` is the leg's section-weighted tf, `idf`
    * its BM25 idf, `tfIdf` its scorer_tf_idf idf (ResolvedQuery.tfIdfLegIdf)
    * and `weight` its query weight. */
  private[query] def legScore(q: ResolvedQuery, tf: Double, dl: Int, idf: Double,
      tfIdf: Double, weight: Double): Double = q.score match {
    case ScoreMode.Tf => tf * weight
    case ScoreMode.Bm25(k1, b) => idf * weight * Bm25.weight(tf, dl.toDouble, q.avgdl, k1, b)
    case ScoreMode.TfAtMost(max) => math.min(tf, max) * weight
    case ScoreMode.TfIdf => (if (tfIdf == 0.0) 1.0 else math.max(tf * tfIdf, 1.0)) * weight
  }

  /** the sum of the legs' scores at their current doc */
  private def legSum(legs: Array[TermCursor]): Double = {
    var s = 0.0
    var i = 0
    while (i < legs.length) { s += legs(i).score; i += 1 }
    s
  }

  /** A phrase unit's score: `starts` (per section, in order) give its tf,
    * Σ starts x section weight; it weighs 1, its idf is its rarest
    * member's and its scorer_tf_idf idf is taken over all `members`. */
  private def unitScore(q: ResolvedQuery, members: Array[TermCursor],
      starts: Iterator[(Int, Array[Int])]): Double = {
    var tf = 0.0
    starts.foreach { case (sid, st) => tf += st.length * q.sectionWeight(sid) }
    var idf = Double.NegativeInfinity
    var dfSum = 0L
    members.foreach { c => idf = math.max(idf, c.rt.idf); dfSum += c.rt.df }
    legScore(q, tf, members(0).dl, idf, q.tfIdfLegIdf(dfSum, members.length), 1.0)
  }

  /** AND / phrase / near: leapfrog intersection driven by the rarest term
    * (df-ascending driver — token_compare, /root/reference/lib/ii.cpp:10549-10561). */
  private def conjunctive(q: ResolvedQuery, cursors: Array[TermCursor]): Iterator[(Long, Double)] = {
    val order = cursors.sortBy(_.rt.df)
    new Iterator[(Long, Double)] {
      private var nextHit: (Long, Double) = _
      private var done = order.exists(_.exhausted)

      private def findNext(): Unit = {
        nextHit = null
        while (nextHit == null && !done) {
          val target = order(0).doc
          var aligned = true
          var i = 1
          while (i < order.length && aligned) {
            order(i).advanceTo(target)
            if (order(i).exhausted) { done = true; return }
            if (order(i).doc != target) {
              order(0).advanceTo(order(i).doc)
              if (order(0).exhausted) { done = true; return }
              aligned = false
            }
            i += 1
          }
          if (aligned) {
            val s = matchedScore(q, order)
            if (s.isDefined) nextHit = (target, s.get)
            order(0).next()
            if (order(0).exhausted) done = true
          }
        }
      }

      findNext()
      def hasNext: Boolean = nextHit != null
      def next(): (Long, Double) = {
        val h = nextHit; findNext(); h
      }
    }
  }

  /** score a doc where all cursors are aligned; applies phrase/near position
    * checks. Returns None if position constraints reject the doc. */
  private def matchedScore(q: ResolvedQuery, aligned: Array[TermCursor]): Option[Double] =
    q.mode match {
      case MatchMode.Phrase =>
        // EXACT phrase check, /root/reference/lib/ii.cpp:13538-13605
        val starts = phraseStartsBySid(aligned)
        if (starts.isEmpty) None else Some(unitScore(q, aligned, starts.iterator))
      case MatchMode.Near(maxInterval) =>
        // minimal window over all terms' positions within maxInterval,
        // evaluated per shared section (GRN_OP_NEAR,
        // /root/reference/lib/ii.cpp:13383-13533)
        val perCursor: Array[Map[Int, Array[Int]]] =
          aligned.map(_.groupPositions.toMap)
        val sharedSids = perCursor.map(_.keySet).reduce(_ intersect _)
        val ok = sharedSids.exists { sid =>
          minWindow(perCursor.map(_(sid))) <= maxInterval
        }
        if (ok) Some(legSum(aligned)) else None
      case MatchMode.NearPhraseProduct(maxInterval, ordered) =>
        // one alternative per group: each group matches like Phrase
        val groups = aligned.map(_.rt.phraseId).distinct.sorted
          .map(pid => phraseStartsBySid(aligned.filter(_.rt.phraseId == pid)))
        nearPhraseScore(q, aligned, groups, maxInterval, ordered)
      case _ => Some(legSum(aligned)) // All
    }

  /** NEAR_PHRASE at one doc: `groups(g)` holds group g's phrase starts per
    * section. The doc matches when one section that every group occurs in
    * holds one start per group within `maxInterval` (ascending in group
    * order when `ordered`); it then scores as ONE phrase unit over all the
    * groups' starts. */
  private def nearPhraseScore(q: ResolvedQuery, aligned: Array[TermCursor],
      groups: Array[Array[(Int, Array[Int])]], maxInterval: Int, ordered: Boolean): Option[Double] = {
    val inWindow = groups(0).exists { case (sid, _) =>
      val starts = groups.map(_.collectFirst { case (`sid`, st) => st }.orNull)
      !starts.contains(null) &&
        (if (ordered) orderedWindowExists(starts, maxInterval)
         else minWindow(starts) <= maxInterval)
    }
    if (inWindow) Some(unitScore(q, aligned, groups.iterator.flatten)) else None
  }

  /** NEAR_PHRASE_PRODUCT: doc-at-a-time walk (a group matches via ANY of
    * its alternatives, so the conjunctive all-terms gate does not apply);
    * per group, starts = union over fully-aligned alternatives. */
  private def productMatch(q: ResolvedQuery, cursors0: Array[TermCursor],
      maxInterval: Int, ordered: Boolean): Iterator[(Long, Double)] = {
    val live0 = mutable.ArrayBuffer(cursors0.filterNot(_.exhausted).toSeq: _*)
    if (live0.isEmpty) return Iterator.empty
    // how many terms each (group, alternative) needs aligned
    val expected: Map[(Int, Int), Int] =
      q.terms.groupBy(t => (t.phraseId, t.altId)).map { case (k, v) => k -> v.length }
    val groupIds = q.terms.map(_.phraseId).distinct.sorted
    // streaming doc-at-a-time walk (no per-bucket result buffer)
    new Iterator[(Long, Double)] {
      private val live = live0
      private var pending: (Long, Double) = _
      private def advance(): Unit = {
        pending = null
        while (pending == null && live.nonEmpty) {
          var minDoc = Long.MaxValue
          live.foreach(c => if (c.doc < minDoc) minDoc = c.doc)
          val aligned = live.filter(_.doc == minDoc).toArray
          // group -> (sid, union of alternative starts), sids ascending
          val groups = groupIds.map { g =>
            aligned.filter(_.rt.phraseId == g).groupBy(_.rt.altId).toArray
              .flatMap { case (a, cs) =>
                if (cs.length == expected((g, a))) phraseStartsBySid(cs) else Array.empty[(Int, Array[Int])]
              }
              .groupBy(_._1).toArray.sortBy(_._1)
              .map { case (sid, st) => sid -> st.flatMap(_._2).distinct.sorted }
          }
          if (groups.forall(_.nonEmpty))
            nearPhraseScore(q, aligned, groups, maxInterval, ordered).foreach(s => pending = (minDoc, s))
          aligned.foreach(_.next())
          live.filterInPlace(!_.exhausted)
        }
      }
      advance()
      override def hasNext: Boolean = pending != null
      override def next(): (Long, Double) = { val r = pending; advance(); r }
    }
  }

  /** one phrase group's occurrence START positions per section, sections
    * in the base term's order, those without a start left out: position p
    * counts iff every member term of the group occurs at p + (qpos - min
    * qpos) in the same section (positions restart per section, so a phrase
    * never crosses a section boundary). A single-term group's starts are
    * just its positions. */
  private def phraseStartsBySid(group: Array[TermCursor]): Array[(Int, Array[Int])] = {
    val base = group.minBy(_.rt.qpos)
    val others = group.filter(_ ne base)
    val otherBySid = others.map(_.groupPositions.toMap)
    val out = Array.newBuilder[(Int, Array[Int])]
    for ((sid, basePos) <- base.groupPositions) {
      var sectionOk = true
      val oPos = new Array[Array[Int]](others.length)
      var j = 0
      while (j < others.length && sectionOk) {
        otherBySid(j).get(sid) match {
          case Some(p) => oPos(j) = p
          case None => sectionOk = false
        }
        j += 1
      }
      if (sectionOk) {
        val starts = basePos.filter { p0 =>
          var ok = true
          var i = 0
          while (i < others.length && ok) {
            ok = java.util.Arrays.binarySearch(
              oPos(i), p0 + (others(i).rt.qpos - base.rt.qpos)) >= 0
            i += 1
          }
          ok
        }
        if (starts.nonEmpty) out += sid -> starts
      }
    }
    out.result()
  }

  /** exists s_0 < s_1 < ... (one start per list, ascending in list order)
    * with s_last - s_0 <= maxInterval; greedy chain per anchor is optimal */
  private def orderedWindowExists(starts: Array[Array[Int]], maxInterval: Int): Boolean =
    starts(0).exists { s0 =>
      var prev = s0
      var ok = true
      var i = 1
      while (i < starts.length && ok) {
        val arr = starts(i)
        // first element strictly greater than prev
        var lo = 0
        var hi = arr.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (arr(mid) <= prev) lo = mid + 1 else hi = mid
        }
        if (lo >= arr.length) ok = false else prev = arr(lo)
        i += 1
      }
      ok && prev - s0 <= maxInterval
    }

  /** smallest (max - min) over one position picked from each list */
  private def minWindow(lists: Array[Array[Int]]): Int = {
    var best = Int.MaxValue
    val idx = new Array[Int](lists.length)
    var run = true
    while (run) {
      var minV = Int.MaxValue; var maxV = Int.MinValue; var minI = -1
      var i = 0
      while (i < lists.length) {
        val v = lists(i)(idx(i))
        if (v < minV) { minV = v; minI = i }
        if (v > maxV) maxV = v
        i += 1
      }
      if (maxV - minV < best) best = maxV - minV
      idx(minI) += 1
      if (idx(minI) >= lists(minI).length) run = false
    }
    best
  }

  /** OR / quorum: k-way docId merge; Block-Max WAND pruning kicks in for
    * BM25 top-k (rank-identical — bound is provably >= any score in block). */
  private def disjunctive(
      q: ResolvedQuery, cursors0: Array[TermCursor], minMatch: Int): Iterator[(Long, Double)] = {
    val cursors = cursors0.filterNot(_.exhausted)
    if (cursors.isEmpty || cursors.length < minMatch) return Iterator.empty
    // every ScoreMode has a sound per-block bound (initBounds), so WAND
    // serves all of them — sectioned indexes included since v2 blocks carry
    // max_gtf (the group-summed tf bound). Excluded: legacy v1 blocks
    // (max_gtf = -1 sentinel) and negative section weights (a negative
    // weight breaks the maxW·max_gtf upper-bound argument).
    val useWand = q.topK > 0 && minMatch == 1 &&
      q.sectionWeights.forall(_ >= 0.0) && cursors.forall(_.hasGroupBounds)
    if (useWand) return wand(q, cursors)
    // streaming k-way merge: one (doc, score) produced per pull, so a
    // head-term OR over a wide bucket holds no per-bucket buffer
    new Iterator[(Long, Double)] {
      private val live = mutable.ArrayBuffer(cursors: _*)
      private var pending: (Long, Double) = _
      private def advance(): Unit = {
        pending = null
        while (pending == null && live.nonEmpty) {
          var minDoc = Long.MaxValue
          var i = 0
          while (i < live.length) {
            if (live(i).doc < minDoc) minDoc = live(i).doc
            i += 1
          }
          var s = 0.0
          var nMatched = 0
          i = 0
          while (i < live.length) {
            if (live(i).doc == minDoc) {
              s += live(i).score; nMatched += 1
              live(i).next()
            }
            i += 1
          }
          live.filterInPlace(!_.exhausted)
          if (nMatched >= minMatch) pending = (minDoc, s)
        }
      }
      advance()
      override def hasNext: Boolean = pending != null
      override def next(): (Long, Double) = { val r = pending; advance(); r }
    }
  }

  /** PriorityQueue ordering whose max (= head, dequeued first) is the WORST
    * entry of a top-k: smallest score, ties -> largest docId. */
  private val evictOrder: Ordering[(Double, Long)] = (a: (Double, Long), b: (Double, Long)) => {
    val c = java.lang.Double.compare(b._1, a._1)
    if (c != 0) c else java.lang.Long.compare(a._2, b._2)
  }

  /** Block-Max WAND (Ding & Suel 2011) over this bucket.
    *
    * Rank-safety invariants:
    *  - pivot selection and the no-pivot early exit sum LIST-remaining
    *    bounds (TermCursor.remainingUpperBound = suffix max over remaining
    *    blocks), which dominate every posting any cursor can still emit;
    *  - the current-block bound is used only for the secondary check on an
    *    aligned pivot doc, and the resulting skip is capped both at the
    *    aligned cursors' nearest block boundary AND at the next cursor's
    *    doc — docs inside the skipped range are contained only in the
    *    aligned cursors' current blocks, whose bound sum failed the
    *    threshold.
    * groonga's grn_ii_select scores every match (lib/ii.cpp:13694) — this
    * must return the identical top-k (IndexSpec rank-identity tests,
    * including the multi-block skewed-tf one).
    */
  private def wand(q: ResolvedQuery, cursors: Array[TermCursor]): Iterator[(Long, Double)] = {
    val k = q.topK
    cursors.foreach(_.initBounds())
    // min-heap of (score, docId): worst of the current top-k on top.
    val heap = mutable.PriorityQueue.empty[(Double, Long)](evictOrder)
    def threshold: Double = if (heap.size < k) Double.NegativeInfinity else heap.head._1
    val live = mutable.ArrayBuffer(cursors: _*)

    while (live.nonEmpty) {
      val sorted = live.sortBy(_.doc)
      var ubSum = 0.0
      var pivot = -1
      val t = threshold
      var i = 0
      while (i < sorted.length && pivot < 0) {
        ubSum += sorted(i).remainingUpperBound
        if (ubSum > t) pivot = i
        i += 1
      }
      if (pivot < 0) return heapResults(heap) // suffix bounds cover all remaining postings
      val pivotDoc = sorted(pivot).doc
      if (sorted(0).doc == pivotDoc) {
        // group = every cursor positioned exactly on pivotDoc
        var g = 0
        while (g < sorted.length && sorted(g).doc == pivotDoc) g += 1
        // secondary BMW check with true per-block maxima
        var blockSum = 0.0
        var j = 0
        while (j < g) { blockSum += sorted(j).currentBlockUpperBound; j += 1 }
        if (blockSum > t) {
          // fully evaluate pivotDoc across the aligned group
          var s = 0.0
          j = 0
          while (j < g) { s += sorted(j).score; sorted(j).next(); j += 1 }
          offer(heap, k, s, pivotDoc)
        } else {
          // skip: docs up to min(group block boundary, next cursor's doc)
          // are scored only by the group's current blocks, whose bound sum
          // failed the threshold
          var d = Long.MaxValue
          j = 0
          while (j < g) {
            val m = sorted(j).currentBlockMaxDoc
            if (m < d) d = m
            j += 1
          }
          val nextDoc = if (g < sorted.length) sorted(g).doc else Long.MaxValue
          val target = math.max(pivotDoc + 1, math.min(safeInc(d), nextDoc))
          j = 0
          while (j < g) { sorted(j).advanceTo(target); j += 1 }
        }
        live.filterInPlace(!_.exhausted)
      } else {
        // advance the leading cursors to the pivot
        var j = 0
        while (j < pivot) { sorted(j).advanceTo(pivotDoc); j += 1 }
        live.filterInPlace(!_.exhausted)
      }
    }
    heapResults(heap)
  }

  private def safeInc(x: Long): Long = if (x == Long.MaxValue) x else x + 1

  /** keep (score, doc) in a top-`k` heap: a later doc with an equal score
    * loses, as docs arrive in ascending docId */
  private def offer(heap: mutable.PriorityQueue[(Double, Long)], k: Int, s: Double, doc: Long): Unit =
    if (heap.size < k) heap.enqueue((s, doc))
    else if (s > heap.head._1) { heap.dequeue(); heap.enqueue((s, doc)) }

  private def heapResults(heap: mutable.PriorityQueue[(Double, Long)]): Iterator[(Long, Double)] =
    heap.toArray.iterator.map { case (s, d) => (d, s) }

  /** exact streaming top-k over ascending-docId matches (ties -> earlier doc) */
  private def topK(it: Iterator[(Long, Double)], k: Int): Iterator[(Long, Double)] = {
    val heap = mutable.PriorityQueue.empty[(Double, Long)](evictOrder)
    it.foreach { case (d, s) => offer(heap, k, s, d) }
    heapResults(heap)
  }
}
