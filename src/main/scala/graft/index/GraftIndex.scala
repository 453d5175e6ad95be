package graft.index

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.analyzer.{Analyzers, TokenizeMode}
import graft.query._

/** Handle over a committed index directory: typed views over the posting /
  * term / doc tables plus the search entry points.
  *
  * Query lifecycle mirrors groonga's select read path (SURVEY.md §3.1):
  * tokenize query -> resolve term stats (df-ascending leg order,
  * /root/reference/lib/ii.cpp:10549-10561) -> per-bucket posting kernel ->
  * global top-k (TakeOrderedAndProject). The `term IN (...)` filter is
  * pushed into the parquet scan; posting files are written sorted by term so
  * row-group stats prune everything but the query terms' blocks.
  */
final case class GraftIndex(spark: SparkSession, path: String,
    pinnedVersion: Option[Long] = None) {
  import spark.implicits._

  lazy val meta: IndexMeta = {
    val fs = SegmentCatalog.fileSystem(spark, path)
    pinnedVersion match {
      case Some(v) => SegmentCatalog.readMetaAt(fs, path, v)
      case None    => SegmentCatalog.readMeta(fs, path)
    }
  }

  /** cache-invalidation key: a pinned (time-travel) handle keys on its
    * own version so it can never poison results cached for the live head */
  def snapshotId: String = pinnedVersion match {
    case Some(v) => f"pinned-$v%06d"
    case None =>
      SegmentCatalog.snapshotVersion(SegmentCatalog.fileSystem(spark, path), path)
  }

  /** (dir, manifest ordinal) of each data segment: "." is the base build;
    * incremental appends add seg-N dirs (append-only docIds keep segment
    * doc ranges disjoint) */
  private[graft] def segDirs: Seq[(String, Int)] =
    meta.dataSegments.map(SegmentCatalog.segmentDir(path, _)).zipWithIndex

  /** every directory this snapshot must read — existence-checked by
    * GraftIndex.atVersion so an expired snapshot fails at open time (a
    * segment written before terms_rev existed has none) */
  private[index] def tableDirsForValidation: Seq[String] =
    SegmentWriter.Tables.filterNot(_ == "terms_rev")
      .flatMap(t => segDirs.map(s => s"${s._1}/$t")) ++
      meta.deleteSegments.map(s => s"$path/$s")

  // lazy handles: each table is one given-schema scan over every segment
  // (SegmentWriter.read), planned once per index instance. Postings and
  // docs carry seg_ord (manifest segment order) so tombstone generations
  // can tell an upserted doc's old postings from its new ones.
  lazy val postings: DataFrame = postingsOf(segDirs)
  lazy val terms: DataFrame = SegmentWriter.read(spark, segDirs, "terms").drop("seg_ord")
  /** the reversed-term dictionary (rterm, term, df). When a segment was
    * written before terms_rev existed, the whole snapshot derives it from
    * `terms` instead, decided once per handle. */
  lazy val termsRev: DataFrame = {
    val fs = SegmentCatalog.fileSystem(spark, path)
    if (segDirs.forall(s => fs.exists(new org.apache.hadoop.fs.Path(s"${s._1}/terms_rev"))))
      SegmentWriter.read(spark, segDirs, "terms_rev").drop("seg_ord")
    else terms.select(reverse($"term").as("rterm"), $"term", $"df")
  }
  /** doc stats with tombstoned rows filtered out (per-generation), each
    * row with its segment's seg_ord */
  lazy val segDocs: DataFrame = segDocsOf(segDirs)
  /** doc stats with tombstoned rows filtered out (per-generation) */
  lazy val docs: DataFrame = segDocs.select(col("doc_id"), col("dl"))

  /** the posting blocks of the data segments `segs` ((dir, ordinal)).
    * A block written before format 2 reads max_gtf null: for a sid-less
    * layout every doc group is one posting, so max_tf IS the group bound;
    * a sectioned layout gets the -1 sentinel (the kernel skips WAND there). */
  private[graft] def postingsOf(segs: Seq[(String, Int)]): DataFrame =
    SegmentWriter.read(spark, segs, "postings").withColumn("max_gtf",
      coalesce(col("max_gtf"), if (meta.sections.isEmpty) col("max_tf") else lit(-1)))

  /** the live docs rows of the data segments `segs` ((dir, ordinal)) */
  private[graft] def segDocsOf(segs: Seq[(String, Int)]): DataFrame =
    tombstones.live(SegmentWriter.read(spark, segs, "docs"))

  /** this snapshot's generation tombstones (empty without deletes) */
  @transient lazy val tombstones: Tombstones =
    new Tombstones(spark, path, meta.deleteSegments)

  /** postings cap under which a query runs the kernel driver-side
    * (spark.graft.smallQueryMaxPostings; 0 disables the fast path) */
  @transient private lazy val smallQueryCap: Long =
    spark.conf.getOption("spark.graft.smallQueryMaxPostings")
      .map(_.toLong).getOrElse(GraftIndex.DefaultSmallQueryMaxPostings)

  /** THE kernel dispatch: every search's posting read runs here, once for a
    * whole batch of queries over `terms`. `plan` turns the terms' exact
    * stats into the (query_id, query) pairs to run; a query it leaves out
    * (a conjunction with an unknown term) matches nothing. Returns
    * (query_id, doc_id, score) rows.
    *
    * SMALL-QUERY path: a top-k term query costs one Spark job of two
    * stages (pruned scan → bucket shuffle → kernel) — on a warm index
    * that is ~200 ms of scheduling for milliseconds of kernel work
    * (groonga answers the same query in-process, lib/ii.cpp's
    * grn_ii_select runs on the caller's thread). So when the terms' pruned
    * block scan fits `smallQueryCap` postings it is collected, made live
    * once on the driver ([[Tombstones.liveBlocks]]), and the SAME kernel
    * runs per bucket; its rows become a LocalRelation directly
    * ([[GraftIndex.driverHits]]), so downstream top-k never launches
    * another stage. With cold terms the collect is the one
    * that resolved them ([[resolveTerms]]), so a select under the cap is
    * exactly one Spark job, cold or warm. At web scale a common term blows
    * the cap and the batch takes the distributed path; the cap makes
    * driver memory a constant, not a function of corpus size.
    *
    * DISTRIBUTED path: per bucket, the kernel runs every query of a chunk
    * over the bucket's shared in-memory blocks (a query's cursors only
    * read its own terms); the scan tasks make the blocks live before the
    * bucket shuffle, so dead postings are never shuffled. Per-bucket
    * memory is the bucket's pruned block set for the
    * UNION of the chunk's terms, so the batch is split greedily into
    * chunks of Σ df ≤ DefaultBatchMaxPostings, one scan + shuffle each; a
    * single query over that cap runs as its own chunk.
    *
    * The rows are (query_id, doc_id, score), or (doc_id, score) when
    * `queryIds` is false. */
  private def runKernels(terms: Seq[String], queryIds: Boolean)(
      plan: Map[String, TermStatRow] => Seq[(Int, ResolvedQuery)]): DataFrame = {
    val ts = terms.distinct
    val cap = smallQueryCap
    val collected = resolveTerms(ts, cap)
    val queries = plan(cachedStats(ts))
    if (queries.isEmpty) return GraftIndex.driverHits(spark, Nil, queryIds)
    val blocks = collected.orElse(
      if (cap > 0 && ts.iterator.map(termStatCache.get(_).scanned).sum <= cap)
        collectBlocks(ts, Long.MaxValue).map(tombstones.liveBlocks) // counted: ≤ cap postings
      else None)
    blocks match {
      case Some(bs) =>
        val byBucket = bs.groupBy(_.bucket).toSeq.sortBy(_._1)
        val out = queries.iterator.flatMap { case (qid, q) =>
          byBucket.iterator.flatMap { case (_, rs) =>
            MatchKernel.run(q, rs.iterator).map { case (d, s) =>
              if (queryIds) InternalRow(qid, d, s) else InternalRow(d, s)
            }
          }
        }.toSeq
        GraftIndex.driverHits(spark, out, queryIds)
      case None =>
        val chunks = scala.collection.mutable.ArrayBuffer(Vector.empty[(Int, ResolvedQuery)])
        var acc = 0L
        queries.foreach { qq =>
          val qdf = qq._2.terms.iterator.map(_.df).sum
          if (chunks.last.nonEmpty && acc + qdf > GraftIndex.DefaultBatchMaxPostings) {
            chunks += Vector.empty; acc = 0L
          }
          chunks(chunks.length - 1) :+= qq; acc += qdf
        }
        val hits = chunks.iterator.map { chunk =>
          tombstones.liveBlocks(blockScan(chunk.flatMap(_._2.terms.map(_.term)).distinct))
            .groupByKey(_.bucket)
            .flatMapGroups { (_, rows) =>
              val mat = rows.toArray // one bucket's blocks for THIS chunk's terms
              chunk.iterator.flatMap { case (qid, q) =>
                MatchKernel.run(q, mat.iterator).map { case (d, s) => (qid, d, s) }
              }
            }(GraftIndex.hitEncoder)
            .toDF("query_id", "doc_id", "score")
        }.reduce(_ union _)
        if (queryIds) hits else hits.drop("query_id")
    }
  }

  /** the term-IN-pruned posting block scan: parquet row-group stats prune
    * everything but the terms' blocks. The distributed kernel plans this
    * scan; the driver's collect reads the same rows ([[collectBlocks]]). */
  private[graft] def blockRows(terms: Seq[String]): DataFrame =
    postings.where($"term".isin(terms: _*))

  private def blockScan(terms: Seq[String]): Dataset[PostingBlockRow] =
    blockRows(terms).as[PostingBlockRow](GraftIndex.blockEncoder)

  /** the handle's block reader, made on its first collect */
  @transient private lazy val postingsReader: PostingsReader =
    PostingsReader(spark, postings, segDirs, sectioned = meta.sections.nonEmpty)

  /** the blocks of `terms` ([[blockRows]]' rows), in one job that ships at
    * most `cap` postings ([[GraftIndex.collectWithin]]) and plans no scan
    * ([[PostingsReader]]); a scan already counted to fit passes
    * Long.MaxValue */
  private[graft] def collectBlocks(terms: Seq[String], cap: Long): Option[Array[PostingBlockRow]] =
    postingsReader.collect(terms, cap)

  /** Resolve the cold terms among `ts` into termStatCache. Returns the
    * live blocks of all of `ts` when it collected them on the way.
    *
    * Under a positive `cap`, the terms' block scan is collected by
    * [[GraftIndex.collectWithin]]: ONE job, whose tasks ship at most `cap`
    * postings in all. When every task fits its share, the cold terms'
    * stats come from those rows, and runKernels feeds the same rows to the
    * driver kernel. Otherwise the dictionary counts the scan's postings
    * exactly: a scan that fits the cap after all is collected whole, and
    * one past it leaves the stats to the dictionary and the kernel to the
    * distributed path. A scan whose warm terms alone pass the cap goes
    * there without trying the collect.
    *
    * The stats of a cold term are df = Σcnt, total_tf = Σtf_sum and
    * max_tf = max max_tf over its LIVE blocks ([[Tombstones.liveBlocks]])
    * — how the segment writer builds each dictionary row from the blocks,
    * so a mutated index answers as a rebuild of its live docs would. They
    * come from the collected blocks, or from the same sums over the
    * distributed live scan; on a clean index the dictionary's rows,
    * summed across segments, are the same numbers. A term with no live
    * posting is unknown. Beside its stats the cache keeps the term's
    * scanned postings (Σcnt, dead ones included), which decide a warm
    * query's path. */
  private def resolveTerms(ts: Seq[String], cap: Long): Option[Array[PostingBlockRow]] = {
    val cold = ts.filterNot(termStatCache.containsKey)
    if (cold.isEmpty) return None
    val warm = ts.iterator.flatMap(t => Option(termStatCache.get(t))).map(_.scanned).sum
    lazy val dict = dictTermStats(cold)
    val blocks =
      if (cap <= 0 || warm > cap) None // the warm terms alone pass the cap
      else collectBlocks(ts, cap).orElse(
        if (warm + cold.iterator.flatMap(dict.get).map(_.df).sum <= cap)
          collectBlocks(ts, Long.MaxValue)
        else None)
    val want = cold.toSet
    def coldStats(bs: Array[PostingBlockRow]) =
      GraftIndex.blockStats(bs.iterator.filter(b => want(b.term)))
    val live = blocks.map(tombstones.liveBlocks)
    val counts = blocks.fold(dict)(coldStats)
    val stats =
      if (tombstones.isEmpty) counts
      else live.fold(GraftIndex.sumStats(tombstones.liveBlocks(blockScan(cold))
        .mapPartitions(bs => GraftIndex.blockStats(bs).valuesIterator)
        .collect().iterator))(coldStats)
    cold.foreach(t => termStatCache.put(t,
      GraftIndex.Resolved(stats.get(t), counts.get(t).fold(0L)(_.df))))
    live
  }

  /** the dictionary rows of `ts`, summed across segments: df is the
    * term's posting count, dead postings included. The term-IN-pruned
    * scan returns at most |ts| x |segments| rows, so they are summed on
    * the driver. */
  private def dictTermStats(ts: Seq[String]): Map[String, TermStatRow] =
    GraftIndex.sumStats(terms.where($"term".isin(ts: _*))
      .select($"term", $"df", $"total_tf", $"max_tf")
      .as[TermStatRow].collect().iterator)

  /** empty (doc_id, score) result with the canonical schema */
  def emptyResult: DataFrame = GraftIndex.driverHits(spark, Nil, queryIds = false)

  @transient private lazy val termStatCache =
    new java.util.concurrent.ConcurrentHashMap[String, GraftIndex.Resolved]()

  private def cachedStats(ts: Seq[String]): Map[String, TermStatRow] =
    ts.flatMap(t => Option(termStatCache.get(t)).flatMap(_.stat).map(t -> _)).toMap

  /** exact per-term stats of a small set of query terms, memoized per
    * index instance (term stats are immutable per snapshot). On an index
    * with UNCOMPACTED mutations they are exact too: a deleted doc, or an
    * upserted doc's old postings, do not count, so BM25 idf over a mutated
    * index matches a from-scratch rebuild exactly. A clean index reads
    * only the dictionary; tombstones sum the terms' live blocks, in the
    * one place a search does ([[resolveTerms]]). */
  def termStats(qterms: Seq[String]): Map[String, TermStatRow] = {
    val ts = qterms.distinct
    resolveTerms(ts.filterNot(termStatCache.containsKey),
      if (tombstones.isEmpty) 0L else smallQueryCap)
    cachedStats(ts)
  }

  /** Position-dependent match modes need an index built withPositions —
    * fail with a clear error instead of crashing inside the kernel. */
  private def requirePositionsFor(mode: MatchMode): Unit =
    if (mode.needsPositions && !meta.withPositions)
      throw new IllegalArgumentException(
        s"index at $path was built withPositions=false; $mode needs positions " +
          "(rebuild with IndexConfig(withPositions = true))")

  /** Tokenize a raw query string with the index's analyzer (GET mode). */
  def analyzeQuery(raw: String): Seq[(String, Int)] =
    Analyzers.byName(meta.tokenizer).tokenize(raw, TokenizeMode.Get)
      .map(t => (t.term, t.pos)).toSeq

  /** map column-name→weight into the sid-indexed array the kernel uses */
  private def resolveSectionWeights(w: Map[String, Double]): Array[Double] =
    if (w.isEmpty || meta.sections.isEmpty) Array.emptyDoubleArray
    else meta.sections.map(c => w.getOrElse(c, 1.0)).toArray

  /** The kernel query over `groups`: per phrase group its alternatives,
    * each a list of (term, qpos, weight); every mode but NearPhraseProduct
    * passes one group of one alternative. When the mode needs every term,
    * an alternative with a term the index does not know (`stats`) is
    * dropped, and a group left without one makes the query match nothing
    * (None). */
  private def resolve(
      stats: Map[String, TermStatRow],
      groups: Seq[Seq[Seq[(String, Int, Double)]]],
      mode: MatchMode,
      score: ScoreMode,
      topK: Int,
      sectionWeights: Map[String, Double] = Map.empty): Option[ResolvedQuery] = {
    val rts = for {
      (alts, gid) <- groups.zipWithIndex
      (alt, aid) <- alts.zipWithIndex
      if !mode.needsEveryTerm || alt.nonEmpty && alt.forall(t => stats.contains(t._1))
      (t, qpos, w) <- alt
    } yield {
      val df = stats.get(t).fold(0L)(_.df)
      ResolvedTerm(t, df, Bm25.idf(meta.nDocs, df), w, qpos, gid, aid)
    }
    if (mode.needsEveryTerm && rts.map(_.phraseId).distinct.size < groups.size) None
    else Some(ResolvedQuery(rts.toArray, mode, score, meta.avgdl, topK,
      sectionWeights = resolveSectionWeights(sectionWeights), nDocs = meta.nDocs))
  }

  /** one query's (doc_id, score) matches: `groups` as [[resolve]] takes them */
  private def search(
      groups: Seq[Seq[Seq[(String, Int, Double)]]],
      mode: MatchMode,
      score: ScoreMode,
      topK: Int,
      sectionWeights: Map[String, Double] = Map.empty): DataFrame =
    runKernels(groups.flatten.flatten.map(_._1), queryIds = false) { stats =>
      resolve(stats, groups, mode, score, topK, sectionWeights).map(0 -> _).toSeq
    }

  /** Core search: (doc_id, score) matches for the given terms.
    * `sectionWeights` keys are indexed column names (match_columns
    * "title * 10 || body" → Map("title" -> 10.0)); ignored for
    * single-column indexes. */
  def searchTerms(
      qterms: Seq[String],
      mode: MatchMode = MatchMode.All,
      score: ScoreMode = ScoreMode.Tf,
      topK: Int = 0,
      weights: Map[String, Double] = Map.empty,
      sectionWeights: Map[String, Double] = Map.empty): DataFrame = {
    requirePositionsFor(mode)
    val withPos = qterms.zipWithIndex.map { case (t, i) =>
      (t, i, weights.getOrElse(t, 1.0))
    }
    search(Seq(Seq(withPos)), mode, score, topK, sectionWeights)
  }

  /** BATCHED multi-query search: N term queries answered through ONE
    * runKernels dispatch — one pruned postings scan per chunk (the union of
    * a chunk's terms pushed down as a single term-IN filter), each bucket's
    * blocks materialized once and shared by every query of the chunk.
    *
    * This is the Spark-first answer to query throughput: where the
    * reference dispatches each query on its own thread over shared memory
    * (grn_ii_select per caller), here a query BATCH becomes one job whose
    * scan/shuffle cost is shared — at 1000 executors, k queries cost one
    * scan, not k. The stats of the whole batch come from the same scan,
    * and a batch whose blocks fit `smallQueryCap` runs driver-side in one
    * job.
    *
    * Output: (query_id, doc_id, score); query_id = position in `batch`.
    * Conjunctive queries containing an unknown term match nothing, same
    * as searchTerms. */
  def searchTermsBatch(
      batch: Seq[Seq[String]],
      mode: MatchMode = MatchMode.Any,
      score: ScoreMode = ScoreMode.Tf,
      topK: Int = 0,
      sectionWeights: Map[String, Double] = Map.empty): DataFrame = {
    requirePositionsFor(mode)
    val allTerms = batch.flatten.distinct
    if (allTerms.isEmpty) return GraftIndex.driverHits(spark, Nil, queryIds = true)
    runKernels(allTerms, queryIds = true) { stats =>
      batch.zipWithIndex.flatMap { case (qts, qid) =>
        val withPos = qts.zipWithIndex.map { case (t, i) => (t, i, 1.0) }
        resolve(stats, Seq(Seq(withPos)), mode, score, topK, sectionWeights).map(qid -> _)
      }
    }
  }

  /** Per-query top-k over a searchTermsBatch result, reference tie order. */
  def topKPerQuery(result: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(desc("score"), asc("doc_id"))
    result.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k).drop("rk")
  }

  /** Phrase search from a raw phrase string: query-side tokenize (GET mode)
    * supplies the token offsets used by the adjacency check. */
  def searchPhrase(phrase: String, score: ScoreMode = ScoreMode.Tf, topK: Int = 0): DataFrame = {
    requirePositionsFor(MatchMode.Phrase)
    val toks = analyzeQuery(phrase)
    if (toks.isEmpty) return emptyResult
    search(Seq(Seq(toks.map { case (t, p) => (t, p, 1.0) })), MatchMode.Phrase, score, topK)
  }

  /** NEAR_PHRASE / ORDERED_NEAR_PHRASE: every phrase occurs and the phrase
    * START positions fit within `maxInterval` (ordered: ascending in query
    * order), inside one section (the *NP and *ONP query syntax,
    * /root/reference/lib/ii.cpp:11210+, 12903). Single-word "phrases" are
    * allowed and compose with multi-word ones. It is the product form with
    * one alternative per group. */
  def searchNearPhrase(
      phrases: Seq[String],
      maxInterval: Int,
      ordered: Boolean = false,
      score: ScoreMode = ScoreMode.Tf,
      topK: Int = 0): DataFrame =
    searchNearPhraseProduct(phrases.map(Seq(_)), maxInterval, ordered, score, topK)

  /** NEAR_PHRASE_PRODUCT / ORDERED_NEAR_PHRASE_PRODUCT: each group is a
    * set of alternative phrases; one alternative per group must occur, all
    * landing inside `maxInterval` (lib/ii.cpp:12903+). Alternatives whose
    * terms are absent from the dictionary are dropped; a group with no
    * viable alternative yields an empty result. */
  def searchNearPhraseProduct(
      groups: Seq[Seq[String]],
      maxInterval: Int,
      ordered: Boolean = false,
      score: ScoreMode = ScoreMode.Tf,
      topK: Int = 0): DataFrame = {
    val mode = MatchMode.NearPhraseProduct(maxInterval, ordered)
    requirePositionsFor(mode)
    val analyzed = groups.map(_.map(analyzeQuery))
    if (analyzed.isEmpty || analyzed.exists(_.forall(_.isEmpty))) return emptyResult
    search(analyzed.map(_.map(_.map { case (t, p) => (t, p, 1.0) })), mode, score, topK)
  }

  /** rank candidate terms by corpus-wide df and cap: a term present in
    * several segments (append/upsert) contributes ONE entry with its dfs
    * summed — duplicates would give it two kernel cursors and double-count
    * its tf. */
  private def dedupTopByDf(cands: DataFrame, maxExpansions: Int): Seq[String] =
    cands.groupBy(col("term")).agg(sum(col("df")).as("df"))
      .orderBy(desc("df"), asc("term")).limit(maxExpansions)
      .select($"term").as[String].collect().toSeq

  /** Prefix expansion over the sorted term dictionary (pat-cursor analogue,
    * /root/reference/lib/ii.cpp:10286-10470 EX_PREFIX). */
  def expandPrefix(prefix: String, maxExpansions: Int = 1024): Seq[String] =
    dedupTopByDf(terms.where($"term".startsWith(prefix)), maxExpansions)

  /** Suffix expansion via the reversed-term dictionary (terms_rev, sorted
    * by reversed term → parquet row-group pruning on the startsWith filter;
    * groonga's reversed-key suffix cursor, lib/ii.cpp:10989). */
  def expandSuffix(suffix: String, maxExpansions: Int = 1024): Seq[String] =
    dedupTopByDf(termsRev.where($"rterm".startsWith(suffix.reverse))
      .select(col("term"), col("df")), maxExpansions)

  /** SUFFIX match mode: docs containing any dictionary term ending with
    * `suffix` (GRN_OP_SUFFIX), TF-scored. */
  def searchSuffix(suffix: String, maxExpansions: Int = 1024): DataFrame = {
    val expanded = expandSuffix(suffix, maxExpansions)
    if (expanded.isEmpty) emptyResult
    else searchTerms(expanded, MatchMode.Any, ScoreMode.Tf)
  }

  /** prefix_rk_search (romaji-kana): dictionary terms whose reading starts
    * with any kana expansion of the romaji prefix (reference proc
    * prefix_rk_search; conversion table in graft.analyzer.Romaji). */
  def expandPrefixRk(romajiPrefix: String, maxExpansions: Int = 1024): Seq[String] = {
    val cands = graft.analyzer.Romaji.candidates(romajiPrefix)
    if (cands.isEmpty) return Nil
    val pred = cands.map(c => $"term".startsWith(c)).reduce(_ || _)
    dedupTopByDf(terms.where(pred), maxExpansions)
  }

  /** GRN_OP_TERM_EXTRACT (lib/grn_ii.h:234): every dictionary term occurring
    * as a substring of `text`, with its char offset. The candidate set
    * (|text| x maxTermLen substrings) is tiny and broadcast against the big
    * dictionary — the scan side stays distributed. */
  def termExtract(text: String, maxTermLen: Int = 32): DataFrame = {
    val cands = (0 until text.length).flatMap { i =>
      (1 to math.min(maxTermLen, text.length - i)).map(l => (i, text.substring(i, i + l)))
    }
    val candDf = spark.createDataFrame(cands).toDF("pos", "term")
    terms.join(broadcast(candDf), Seq("term"))
      .select($"pos", $"term").orderBy($"pos", $"term")
  }

  /** Fuzzy expansion: terms within edit distance (GRN_OP_FUZZY,
    * /root/reference/lib/ii.cpp:11116-11208) — distributed levenshtein over
    * the term dictionary with a cheap length prefilter.
    * `withTransposition` = GRN_TABLE_FUZZY_SEARCH_WITH_TRANSPOSITION
    * (include/groonga/table.h:1958): adjacent transposition counts as ONE
    * edit, computed with the reference's restricted (OSA) DP
    * (lib/pat.c:3395-3415) via a typed filter (still distributed over the
    * dictionary; Spark has no built-in transposition distance). */
  def expandFuzzy(term: String, maxDistance: Int, prefixLength: Int = 0,
      maxExpansions: Int = 64, withTransposition: Boolean = false): Seq[String] = {
    val base = terms
      .where(length($"term").between(term.length - maxDistance, term.length + maxDistance))
    val pref = if (prefixLength > 0)
      base.where($"term".startsWith(term.take(prefixLength))) else base
    val within =
      if (!withTransposition) pref.where(levenshtein(lit(term), $"term") <= maxDistance)
      else {
        val q = term
        val d = maxDistance
        pref.select($"term", $"df").as[(String, Long)]
          .filter(t => graft.query.Fuzzy.osaDistance(q, t._1, d) <= d)
          .toDF("term", "df")
      }
    dedupTopByDf(within, maxExpansions)
  }

  /** Any+Tf match for an UNBOUNDED term set given as a DataFrame — the
    * scale path when a dictionary expansion (regexp, loose prefix) exceeds
    * the driver-side cap: postings ⋈ matching-terms stays distributed, score
    * = Σ tf. Identical results to searchTerms(expanded, Any, Tf). */
  def searchTermsTfByJoin(matching: DataFrame): DataFrame =
    decodedAlive(postings
        .join(matching.select(col("term").as("term")).distinct(), Seq("term"))
        .as[PostingBlockRow](GraftIndex.blockEncoder))
      .drop("term") // keep the groupBy exchange to fixed-width rows
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("double").as("score"))

  /** decode the live blocks of `blocks` into (term, doc_id, tf, dl) rows;
    * search, export and doc vectors all build on it */
  private[graft] def decodedAlive(blocks: Dataset[PostingBlockRow]): DataFrame =
    tombstones.liveBlocks(blocks).flatMap { b =>
      val d = graft.codec.PostingCodec.decode(b.payload)
      (0 until d.count).iterator.map(i => (b.term, d.docIds(i), d.tfs(i).toLong, d.dls(i)))
    }.toDF("term", "doc_id", "tf", "dl")

  /** Full decoded postings view (term, doc_id, tf): tombstone-filtered,
    * section-summed — the export / consistency-audit surface. Distributed
    * end to end (block decode is a flatMap over the postings scan). */
  def decodedPostings: DataFrame =
    decodedAlive(postings.as[PostingBlockRow](GraftIndex.blockEncoder))
      .groupBy(col("term"), col("doc_id")).agg(sum(col("tf")).as("tf"))

  /** index↔source consistency audit (the `index_column_diff` command,
    * /root/reference/lib/proc/proc_index_column.c:40 /
    * lib/index_column.c:345 "remains"/"missings"): re-tokenizes `docs`
    * with THIS index's analyzer and diffs against the decoded postings.
    * One summary row — all-zero diff counts iff the index exactly matches
    * its source. Shape: two scans + one (term, doc_id)-keyed join; no
    * driver state (the reference walks the index single-threaded). */
  def diffAgainst(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val expected = docs.select(col(idCol).cast("long").as("doc_id"),
        explode(graft.functions.StringProcs.stringTokenize(
          col(textCol), meta.tokenizer)).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("expected_tf"))
    val actual = decodedPostings.withColumnRenamed("tf", "actual_tf")
    expected.join(actual, Seq("doc_id", "term"), "full_outer")
      .agg(
        sum(when(col("expected_tf").isNotNull, 1L).otherwise(0L)).as("n_expected"),
        sum(when(col("actual_tf").isNotNull, 1L).otherwise(0L)).as("n_actual"),
        sum(when(col("actual_tf").isNull, 1L).otherwise(0L)).as("n_missing"),
        sum(when(col("expected_tf").isNull, 1L).otherwise(0L)).as("n_remains"),
        sum(when(col("expected_tf").isNotNull && col("actual_tf").isNotNull &&
          col("expected_tf") =!= col("actual_tf"), 1L).otherwise(0L)).as("n_tf_mismatch"))
  }

  /** REGEXP over the dictionary: driver-side expansion capped at
    * `maxExpansions` terms (a loose pattern over a web-scale lexicon would
    * otherwise OOM the driver / blow the IN-list); above the cap the match
    * is computed by a distributed postings⋈terms join instead
    * (grn_ii_select GRN_OP_REGEXP dict-literal path, lib/ii.cpp:14854;
    * the reference likewise special-cases "simple" regexps into cheaper
    * paths — lib/expr_executor.cpp:2862). An `^`-anchored literal prefix
    * is additionally pushed into the dictionary scan as a StartsWith
    * predicate: the terms table is written term-sorted, so parquet min/max
    * stats prune every row group outside the prefix range and the rlike
    * only runs over the survivors — at a web-scale lexicon this turns a
    * full dictionary scan into a few row groups. */
  /** the dictionary side of a regexp search — exposed so plan checks can
    * assert the prefix pushdown on the exact scan searchRegexp runs */
  def regexpDictionary(pattern: String): DataFrame = {
    // a TokenRegexp index's dictionary holds GRAMS + marks, not full
    // terms — regexp-matching it is silently wrong; that index answers
    // through searchRegexpGrams + a confirm pass on the source text
    require(!meta.tokenizer.startsWith("TokenRegexp"),
      "dictionary regexp on a TokenRegexp grams index — use " +
        "searchRegexpGrams + a full-regex confirm on the source text")
    val pre = GraftIndex.regexpLiteralPrefix(pattern)
    val dict = if (pre.isEmpty) terms else terms.where($"term".startsWith(pre))
    dict.where($"term".rlike(pattern)).select($"term").distinct()
  }

  /** Index-accelerated regexp CANDIDATES over a TokenRegexp-grams index
    * (the reference's indexed `@~` path: TokenRegexp ADD grams +
    * begin/end marks, /root/reference/lib/tokenizers.c:1289-1545): the
    * pattern's required literal run becomes a gram phrase — `\A`/`^`
    * anchors ride the begin mark, `\z`/`$` the end mark, so anchored
    * patterns prune by POSITION too, not just containment. Any doc
    * matching the regex contains the literal contiguously and blank-free,
    * so its stride-1 ADD grams align with the GET phrase — candidates are
    * a sound superset and the caller re-verifies with the full regex.
    * None when no usable literal exists (single chars need the unmatured-
    * tail prefix expansion the phrase kernel doesn't do — callers fall
    * back to the sequential confirm). */
  def searchRegexpGrams(pattern: String): Option[DataFrame] = {
    require(meta.tokenizer.startsWith("TokenRegexp"),
      s"searchRegexpGrams needs a TokenRegexp-analyzed index (got ${meta.tokenizer})")
    val hasBegin = pattern.startsWith("\\A") || pattern.startsWith("^")
    val beginLen = if (pattern.startsWith("\\A")) 2 else if (hasBegin) 1 else 0
    val hasEnd = (pattern.endsWith("\\z") && !pattern.endsWith("\\\\z")) ||
      (pattern.endsWith("$") && !pattern.endsWith("\\$"))
    val endLen = if (pattern.endsWith("\\z")) 2 else if (hasEnd) 1 else 0
    val core = pattern.substring(beginLen, pattern.length - endLen)
    val (lit, atStart, atEnd) = GraftIndex.regexpRequiredLiteral(core)
    if (lit.length < 2) None
    else {
      val q = (if (hasBegin && atStart) graft.analyzer.TokenRegexpTokenizer.BeginMark else "") +
        lit +
        (if (hasEnd && atEnd) graft.analyzer.TokenRegexpTokenizer.EndMark else "")
      Some(searchPhrase(q))
    }
  }

  def searchRegexp(pattern: String, maxExpansions: Int = 1024): DataFrame = {
    val matching = regexpDictionary(pattern)
    val sample = matching.limit(maxExpansions + 1).as[String].collect()
    if (sample.isEmpty) emptyResult
    else if (sample.length <= maxExpansions)
      searchTerms(sample.toSeq, MatchMode.Any, ScoreMode.Tf)
    else searchTermsTfByJoin(matching)
  }

  /** Top-k with the deterministic reference tie order (-_score, _id). */
  def topK(result: DataFrame, k: Int): DataFrame =
    result.orderBy(desc("score"), asc("doc_id")).limit(k)

  /** per-segment stats in manifest order — the MANIFEST's persisted
    * segment stats when present (zero jobs, zero file IO: the 100-TB
    * path), else measured once per handle (legacy manifests only: one
    * postings and one docs query, never a per-segment loop) */
  @transient private[graft] lazy val segStats: Seq[SegStats] = {
    val ss = meta.segStats
    if (ss.nonEmpty && ss.map(_.name) == meta.dataSegments) ss
    else SegmentWriter.measure(spark,
      meta.dataSegments.map(s => s -> SegmentCatalog.segmentDir(path, s))).segs
  }

  /** Index-order sort fast path (grn_table_sort_index, lib/sort.c:33,
    * chosen at :1077-1096): ascending `_id` with a limit is served by the
    * STORAGE ORDER instead of a sort of the whole table. Append-only ids
    * keep segment doc ranges disjoint and ascending in manifest order, so
    * the first `limit` ids live entirely in the shortest segment prefix
    * whose cumulative doc count reaches `limit` — only those segments are
    * scanned (at scale: one segment out of thousands). Upserts break the
    * ascending-range invariant, but they always leave tombstones, which
    * routes to the sorted fallback until compact restores the fast path. */
  def idOrderScan(limit: Int): DataFrame = {
    val sorted = docs.orderBy($"doc_id")
    if (tombstones.nonEmpty || limit <= 0) return sorted.limit(math.max(limit, 0))
    // The prefix trick REQUIRES strictly ascending disjoint segment ranges.
    // appendSegment documents append-only ids but cannot enforce them
    // (doc_id is a user key) — an out-of-order append would silently return
    // the wrong first-N, so validate the segment doc ranges and fall back
    // to the sorted scan when the invariant doesn't hold.
    val ascending = segStats.filter(_.nDocs > 0).sliding(2).forall {
      case Seq(a, b) => a.maxDoc < b.minDoc
      case _ => true
    }
    if (!ascending) return sorted.limit(limit)
    var acc = 0L
    val prefix = segDirs.zip(segStats).takeWhile { case (_, st) =>
      val before = acc
      acc += st.nDocs
      before < limit
    }.map(_._1)
    SegmentWriter.read(spark, prefix, "docs")
      .select($"doc_id", $"dl").orderBy($"doc_id").limit(limit)
  }
}

object GraftIndex {
  /** default Σ-df cap for the driver-side small-query kernel path: ~256k
    * postings ≈ single-digit MB of encoded blocks on the driver */
  final val DefaultSmallQueryMaxPostings: Long = 1L << 18

  /** a cold term's resolve, cached per handle: its exact stats (None when
    * it has no live posting) and the postings its block scan reads, dead
    * ones included */
  private[index] final case class Resolved(stat: Option[TermStatRow], scanned: Long)

  /** the encoder of a posting block row and of a (query_id, doc_id,
    * score) hit, each derived once, on first use (a build never needs
    * them): Spark's implicit product encoders re-derive theirs by Scala
    * reflection on every call */
  private[graft] lazy val blockEncoder: ExpressionEncoder[PostingBlockRow] =
    ExpressionEncoder[PostingBlockRow]()
  private[graft] lazy val hitEncoder: ExpressionEncoder[(Int, Long, Double)] =
    ExpressionEncoder[(Int, Long, Double)]()

  /** driver-side kernel rows, (query_id, doc_id, score) or (doc_id,
    * score), as a LocalRelation. Its attributes are new on every call, so
    * two results joined, unioned or anti-joined in one plan never share an
    * exprId. */
  private[graft] def driverHits(spark: SparkSession, rows: Seq[InternalRow],
      queryIds: Boolean): DataFrame = {
    val hit = Seq(AttributeReference("doc_id", LongType, nullable = false)(),
      AttributeReference("score", DoubleType, nullable = false)())
    val output =
      if (queryIds) AttributeReference("query_id", IntegerType, nullable = false)() +: hit
      else hit
    GraftColumnBridge.ofRows(spark, LocalRelation(output, rows))
  }

  /** ONE bounded collect of the blocks that `read` gives for the items of
    * `splits`: each of its P tasks returns its blocks when their Σcnt fits
    * cap / P, and otherwise stops reading at the first block past that
    * share and returns nothing. So what the job ships to the driver, summed
    * over its tasks, never passes `cap` postings, however many partitions
    * `splits` has. Some(every block, in partition order) when every task
    * fit its share. */
  private[graft] def collectWithin[T](splits: RDD[T],
      read: Iterator[T] => Iterator[PostingBlockRow], cap: Long): Option[Array[PostingBlockRow]] = {
    val n = splits.getNumPartitions
    val parts = splits.sparkContext.runJob(splits,
      new HoldWithin(read, cap / math.max(1, n)), 0 until n)
    if (parts.forall(_.isDefined)) Some(parts.flatMap(_.get)) else None
  }

  /** The task of [[collectWithin]]: one partition's blocks when their
    * Σcnt fits `share`. It is a named class, not a lambda, because
    * SparkContext.runJob hands its function to the ClosureCleaner, which
    * re-reads the bytecode of a lambda's enclosing class (here GraftIndex$)
    * with ASM on every job, but returns at once for an object that is not
    * a closure. For the same reason collectWithin calls the runJob that
    * takes (TaskContext, Iterator) and the partitions: the one that takes
    * a bare Iterator wraps it in a closure of its own. */
  private final class HoldWithin[T](read: Iterator[T] => Iterator[PostingBlockRow], share: Long)
      extends ((TaskContext, Iterator[T]) => Option[Array[PostingBlockRow]])
      with Serializable {
    def apply(ctx: TaskContext, splits: Iterator[T]): Option[Array[PostingBlockRow]] = {
      val blocks = read(splits)
      val held = scala.collection.mutable.ArrayBuffer.empty[PostingBlockRow]
      var n = 0L
      while (n <= share && blocks.hasNext) { val b = blocks.next(); held += b; n += b.cnt }
      if (n <= share) Some(held.toArray) else None
    }
  }

  /** per-term sums of `blocks`' headers: df = Σcnt, total_tf = Σtf_sum,
    * max_tf = max max_tf */
  private def blockStats(blocks: Iterator[PostingBlockRow]): Map[String, TermStatRow] =
    sumStats(blocks.map(b => TermStatRow(b.term, b.cnt.toLong, b.tf_sum, b.max_tf)))

  /** per-term sums of dictionary-shaped rows: df and total_tf add up,
    * max_tf is the max — how the segment writer builds the dictionary
    * from the blocks, and how its rows sum across segments */
  private def sumStats(rows: Iterator[TermStatRow]): Map[String, TermStatRow] = {
    val acc = scala.collection.mutable.HashMap.empty[String, TermStatRow]
    rows.foreach(s => acc.update(s.term, acc.get(s.term).fold(s)(a =>
      TermStatRow(s.term, a.df + s.df, a.total_tf + s.total_tf, math.max(a.max_tf, s.max_tf)))))
    acc.toMap
  }

  /** Σ-df cap per distributed kernel CHUNK: runKernels materializes, per
    * bucket, the blocks of the UNION of a chunk's terms — so executor
    * memory scales with the chunk's posting footprint, and an uncapped
    * batch of common terms could OOM a task. 16M
    * postings ≈ tens of MB of encoded blocks in the worst (single-bucket
    * skew) case; a single query over the cap still runs, as its own chunk —
    * the same bound the single-query kernel has. */
  final val DefaultBatchMaxPostings: Long = 1L << 24

  /** Time-travel read: open the index as of a retained manifest version
    * (SegmentCatalog.listVersions). Commits keep the newest
    * `SegmentCatalog.ManifestRetain` manifests; append/delete commits
    * never remove segment files, so those snapshots stay readable.
    * compact()/compactPartial() physically delete superseded segments —
    * that IS snapshot expiry — so a snapshot referencing them fails HERE,
    * loudly, rather than mid-query. */
  def atVersion(spark: SparkSession, path: String, version: Long): GraftIndex = {
    val idx = GraftIndex(spark, path, Some(version))
    val fs = SegmentCatalog.fileSystem(spark, path)
    val missing = idx.tableDirsForValidation.filterNot(p =>
      fs.exists(new org.apache.hadoop.fs.Path(p)))
    if (missing.nonEmpty) throw new java.io.FileNotFoundException(
      s"snapshot $version of $path is expired: compaction deleted " +
        s"segment(s) it references (${missing.mkString(", ")}); only " +
        "snapshots newer than the last compact()/compactPartial() are readable")
    // recycled-name guard: engine-generated names embed the (monotonic)
    // manifest version so they are never reused, but caller-chosen append
    // names and legacy count-derived names can be. If a segment name the
    // snapshot recorded ALSO appears in the head manifest with different
    // stats, the directory was replaced after this snapshot — the bytes
    // on disk are not the ones it recorded.
    val headStats = SegmentCatalog.readMeta(fs, path)
      .segStats.map(s => s.name -> s).toMap
    val recycled = idx.meta.segStats.filter(s =>
      headStats.get(s.name).exists(h => h != s))
    if (recycled.nonEmpty) throw new java.io.FileNotFoundException(
      s"snapshot $version of $path is expired: segment(s) " +
        s"${recycled.map(_.name).mkString(", ")} were rewritten under the " +
        "same name after this snapshot (stats differ from the live manifest)")
    idx
  }

  /** retained snapshot versions for `path`, ascending */
  def versions(spark: SparkSession, path: String): Seq[Long] =
    SegmentCatalog.listVersions(SegmentCatalog.fileSystem(spark, path), path)

  /** Longest literal prefix REQUIRED by a `^`-anchored Java regexp, or ""
    * when none can be proven. Conservative by construction — a returned
    * prefix is sound iff every matching string starts with it, so:
    *   - unanchored patterns, or any `|` anywhere (alternation could
    *     bypass the prefix), or a leading group/class → ""
    *   - a quantifier (`* + ? {`) makes its preceding char optional or
    *     repeated: drop that char and stop (keeping fewer chars is always
    *     sound; `^ab?c` → "a", `^qu.*y$` → "qu")
    *   - `\x` where x is a regex metachar/punct is that literal char;
    *     `\d`-style classes stop the scan
    * (the reference's simple-regexp fast paths play the same game of
    * proving a pattern is cheaper than full regex execution —
    * lib/expr_executor.cpp:2862). */
  def regexpLiteralPrefix(pattern: String): String = {
    if (!pattern.startsWith("^") || pattern.contains("|")) return ""
    val meta = ".[({*+?$\\"
    val sb = new StringBuilder
    var i = 1
    var done = false
    while (!done && i < pattern.length) {
      val c = pattern.charAt(i)
      if (c == '*' || c == '+' || c == '?' || c == '{') {
        if (sb.nonEmpty) sb.setLength(sb.length - 1) // preceding char now unproven
        done = true
      } else if (c == '\\' && i + 1 < pattern.length) {
        val e = pattern.charAt(i + 1)
        if (Character.isLetterOrDigit(e)) done = true // \d \w \Q … — give up
        else { sb.append(e); i += 2 }                 // escaped literal metachar
      } else if (meta.indexOf(c.toInt) >= 0) {
        done = true
      } else { sb.append(c); i += 1 }
    }
    // a quantifier could still follow the scan break via lookahead etc.;
    // the loop already stopped before consuming it, so sb is proven
    sb.toString
  }

  /** Longest blank-free literal run REQUIRED by every match of `core` (a
    * pattern whose outer `\A`/`^` / `\z`/`$` anchors are already stripped),
    * plus whether that run abuts the core's start / end. Conservative
    * candidate extraction in the public trigram-index style (Cox 2012,
    * "Regular Expression Matching with a Trigram Index"): a quantifier
    * un-requires its preceding char, classes/dots break runs, and the scan
    * stops at the first group or alternation (runs found before it stay
    * sound). Soundness = no false negatives: every string matching the
    * pattern contains every returned run contiguously, so gram-phrase
    * candidates on the run are a superset of the regexp's matches and the
    * caller's full-regex confirm is exact. */
  def regexpRequiredLiteral(core: String): (String, Boolean, Boolean) = {
    // a TOP-LEVEL alternation anywhere means no literal is required by
    // every branch (pattern 'spark|scan': docs matching only 'scan' must
    // not be pruned away) — pre-scan at paren depth 0, tracking escapes,
    // and give up so callers fall back to the full-regex confirm over all
    // docs. Branch-intersection extraction (Cox 2012) can refine later.
    {
      var d = 0
      var j = 0
      while (j < core.length) {
        core.charAt(j) match {
          case '\\' => j += 1 // skip escaped char (trailing \ just ends)
          case '(' => d += 1
          case ')' => if (d > 0) d -= 1
          case '|' if d == 0 => return ("", false, false)
          case _ =>
        }
        j += 1
      }
    }
    val runs = new scala.collection.mutable.ArrayBuffer[(String, Int, Int)]()
    val cur = new StringBuilder
    var curStart = 0
    var i = 0
    var stopped = false
    def flush(endIdx: Int): Unit = {
      if (cur.nonEmpty) runs += ((cur.toString, curStart, endIdx))
      cur.setLength(0)
    }
    while (i < core.length && !stopped) {
      core.charAt(i) match {
        case '(' | '|' => stopped = true; flush(i)
        case '?' | '*' =>
          if (cur.nonEmpty) cur.setLength(cur.length - 1) // preceding char optional
          flush(i); i += 1
        case '{' =>
          if (cur.nonEmpty) cur.setLength(cur.length - 1)
          flush(i)
          val j = core.indexOf('}', i)
          i = if (j < 0) core.length else j + 1
        case '+' => flush(i); i += 1 // prev char required, adjacency beyond unknown
        case '.' | ')' | '}' | ']' | '^' | '$' => flush(i); i += 1
        case '[' =>
          flush(i)
          var j = i + 1
          if (j < core.length && core.charAt(j) == '^') j += 1
          if (j < core.length && core.charAt(j) == ']') j += 1
          while (j < core.length && core.charAt(j) != ']') {
            if (core.charAt(j) == '\\') j += 1
            j += 1
          }
          i = if (j >= core.length) core.length else j + 1
        case '\\' if i + 1 >= core.length =>
          // trailing lone backslash: malformed pattern — break the run and
          // stop instead of treating '\' as a required literal char
          stopped = true; flush(i)
        case '\\' =>
          val e = core.charAt(i + 1)
          if (Character.isLetterOrDigit(e)) { flush(i); i += 2 } // \d \w \b … class/boundary
          else { if (cur.isEmpty) curStart = i; cur.append(e); i += 2 }
        case ch if Character.isWhitespace(ch) =>
          flush(i); i += 1 // grams never cross blanks
        case ch =>
          if (cur.isEmpty) curStart = i
          cur.append(ch); i += 1
      }
    }
    if (!stopped) flush(core.length)
    if (runs.isEmpty) ("", false, false)
    else {
      val (txt, s, e) = runs.maxBy(_._1.length)
      (txt, s == 0, !stopped && e == core.length)
    }
  }
}
