package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.Resolver
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending,
  InterpretedOrdering, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.index.GraftIndex
import graft.query._
import graft.query.QueryParser._

/** Server-less `select` command (SURVEY.md §3.1): query-syntax evaluation
  * over the index with groonga result-set semantics, then the select
  * pipeline — post_filter, scorer, sort (+offset/limit), drilldowns.
  *
  * Result-set ops (/root/reference/lib/table_selector.c:462-575 merge ops):
  *   OR       union, scores accumulate
  *   AND      intersection, scores accumulate
  *   AND_NOT  anti-join
  */
object Select {

  final case class Drilldown(keys: Seq[String], limit: Int = 10)

  final case class Request(
      query: String,
      score: ScoreMode = ScoreMode.Tf,
      sortKeys: Seq[(String, Boolean)] = Seq(("score", false), ("doc_id", true)), // (col, asc)
      offset: Int = 0,
      limit: Int = 10,
      postFilter: Option[Column] = None,
      scorer: Option[DataFrame => Column] = None,
      /** source table (with a doc_id column) for relational `col:<n` legs */
      source: Option[DataFrame] = None,
      /** sequential-scan fallback (select_index_use_sequential_search,
        * lib/table_selector.c:598-645): when the query's relational legs
        * alone shrink the candidate set to <= this many rows, term legs are
        * evaluated by tokenizing just those rows' text instead of scanning
        * the index. 0 disables. Needs source + textCol. */
      sequentialThreshold: Long = 0L,
      textCol: String = "text",
      /** `--filter` script string (grn_ecmascript subset compiled to a
        * Catalyst Column by ScriptParser); evaluated against `source` and
        * AND-combined with the query result set. With an empty `query`,
        * the filter alone selects (score 1 per match, reference filter
        * scoring). Needs `source`. */
      filterScript: Option[String] = None,
      /** QUERY_ALLOW_LEADING_NOT: `-x` at a group head = all records
        * AND-NOT x (reference default off → syntax error) */
      allowLeadingNot: Boolean = false)

  private def flattenAnd(n: Node): List[Node] = n match {
    case AndQ(l, r) => flattenAnd(l) ++ flattenAnd(r)
    case x => List(x)
  }
  private def flattenOr(n: Node): List[Node] = n match {
    case OrQ(l, r) => flattenOr(l) ++ flattenOr(r)
    case x => List(x)
  }

  private def andCombine(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b.withColumnRenamed("score", "score_r"), Seq("doc_id"))
      .select(col("doc_id"), (col("score") + col("score_r")).as("score"))
  /** a lone leg is returned as it is: the kernel already emits one row per
    * doc, and an aggregate over it would hide a driver-side LocalRelation
    * from [[page]] */
  private def orCombine(dfs: Seq[DataFrame]): DataFrame =
    if (dfs.size == 1) dfs.head
    else dfs.reduce(_.unionByName(_))
      .groupBy(col("doc_id")).agg(sum(col("score")).as("score"))

  /** groonga sort-key string syntax: "-_score, +_id" → (col, asc) pairs;
    * pseudo columns _score/_id/_key map to score/doc_id/key
    * (grn_table_sort_key_from_str, lib/sort.c). */
  def parseSortKeys(spec: String): Seq[(String, Boolean)] =
    spec.split(',').map(_.trim).filter(_.nonEmpty).toSeq.map { k =>
      val (asc, name) =
        if (k.startsWith("-")) (false, k.drop(1).trim)
        else if (k.startsWith("+")) (true, k.drop(1).trim)
        else (true, k)
      val col = name match {
        case "_score" => "score"
        case "_id" => "doc_id"
        case "_key" => "key"
        case other => other
      }
      (col, asc)
    }

  /** query_expand (lib/proc/proc_query.cpp:230): rewrite every term leg
    * into an OR of its synonym set before evaluation; non-term legs and
    * terms without an entry pass through. */
  def expandQuery(node: Node, synonyms: Map[String, Seq[String]]): Node = node match {
    case TermQ(t, w) => synonyms.get(t) match {
      case Some(syns) if syns.nonEmpty =>
        syns.map(s => TermQ(s, w): Node).reduceLeft(OrQ(_, _))
      case _ => node
    }
    case AndQ(l, r) => AndQ(expandQuery(l, synonyms), expandQuery(r, synonyms))
    case OrQ(l, r) => OrQ(expandQuery(l, synonyms), expandQuery(r, synonyms))
    case NotQ(l, r) => NotQ(expandQuery(l, synonyms), expandQuery(r, synonyms))
    case other => other
  }

  /** relational leg on the source table: matched records score 1
    * (non-index predicate semantics of --query, lib/expr.c comparison ops) */
  private def relFilter(source: DataFrame, c: String, op: String, v: String): DataFrame = {
    val dt = source.schema(c).dataType
    val l = lit(v).cast(dt)
    val cc = source.col(c)
    val pred = op match {
      case "<" => cc < l
      case "<=" => cc <= l
      case ">" => cc > l
      case ">=" => cc >= l
      case "=" => cc === l
      case "!=" => cc =!= l
      case other => throw new IllegalArgumentException(s"unknown relational op $other")
    }
    source.where(pred).select(col("doc_id"), lit(1.0).as("score"))
  }

  /** evaluate a parsed query node to (doc_id, score).
    *
    * Conjunctions/disjunctions of plain terms compile into ONE MatchKernel
    * pass (searchTerms All/Any) instead of per-leg scans + shuffle joins;
    * joins remain only for mixed phrase/prefix/relational trees. */
  def eval(idx: GraftIndex, node: Node, score: ScoreMode,
      source: Option[DataFrame] = None): DataFrame = node match {
    case TermQ(t, w) =>
      idx.searchTerms(Seq(t), MatchMode.Any, score, weights = Map(t -> w))
    case PhraseQ(p) =>
      idx.searchPhrase(p, score)
    case PrefixQ(p) =>
      val expanded = idx.expandPrefix(p)
      if (expanded.isEmpty) idx.emptyResult
      else idx.searchTerms(expanded, MatchMode.Any, score)
    case SuffixQ(s) =>
      val expanded = idx.expandSuffix(s)
      if (expanded.isEmpty) idx.emptyResult
      else idx.searchTerms(expanded, MatchMode.Any, score)
    case RegexpQ(p) =>
      idx.searchRegexp(p)
    case RelQ(c, op, v) =>
      relFilter(source.getOrElse(throw new IllegalArgumentException(
        s"relational leg $c:$op$v needs a source table (Request.source)")), c, op, v)
    case _: AndQ =>
      val legs = flattenAnd(node)
      val termLegs = legs.collect { case t: TermQ => t }
      val rest = legs.filterNot(_.isInstanceOf[TermQ])
      val head =
        if (termLegs.size >= 2)
          Some(idx.searchTerms(termLegs.map(_.term), MatchMode.All, score,
            weights = termLegs.map(t => t.term -> t.weight).toMap))
        else termLegs.headOption.map(eval(idx, _, score, source))
      val parts = head.toList ++ rest.map(eval(idx, _, score, source))
      parts.reduce(andCombine)
    case _: OrQ =>
      val legs = flattenOr(node)
      val termLegs = legs.collect { case t: TermQ => t }
      val rest = legs.filterNot(_.isInstanceOf[TermQ])
      val head =
        if (termLegs.size >= 2)
          Some(idx.searchTerms(termLegs.map(_.term), MatchMode.Any, score,
            weights = termLegs.map(t => t.term -> t.weight).toMap))
        else termLegs.headOption.map(eval(idx, _, score, source))
      orCombine(head.toList ++ rest.map(eval(idx, _, score, source)))
    case NotQ(l, r) =>
      eval(idx, l, score, source)
        .join(eval(idx, r, score, source).select("doc_id"), Seq("doc_id"), "left_anti")
    case AllQ =>
      // leading-NOT base: every live doc, score 0 (no match leg scored it)
      idx.docs.select(col("doc_id"), lit(0.0).as("score"))
  }

  /** `query("cols", "q")` in predicate position (--filter): keep source
    * rows whose doc matches the query — the Spark-natural semi-join form
    * of groonga's in-filter query() function
    * (lib/proc/proc_query.cpp:1157). */
  def queryFilter(source: DataFrame, idx: GraftIndex, query: String,
      score: ScoreMode = ScoreMode.Tf): DataFrame =
    source.join(
      eval(idx, QueryParser.parse(query), score, Some(source)).select("doc_id"),
      Seq("doc_id"), "left_semi")

  /** `query_parallel_or("cols", q1, q2, ...)` — the reference's
    * thread-parallel OR of several query strings
    * (/root/reference/lib/proc/proc_query.cpp:1170-1240). Semantically it
    * IS query() over the OR of the legs; here the legs fold into one OR
    * tree evaluated in a single kernel pass, so the parallelism the
    * reference gets from its thread pool is Spark's own task parallelism —
    * no separate execution path is needed, only the API name. */
  def queryParallelOr(source: DataFrame, idx: GraftIndex,
      queries: Seq[String], score: ScoreMode = ScoreMode.Tf): DataFrame = {
    require(queries.nonEmpty, "query_parallel_or needs at least one query")
    val combined = queries.map(QueryParser.parse).reduce(QueryParser.OrQ(_, _))
    source.join(eval(idx, combined, score, Some(source)).select("doc_id"),
      Seq("doc_id"), "left_semi")
  }

  /** Sequential text-match over candidate rows: tokenize each candidate's
    * text with the index's analyzer and score term tf exactly like the
    * kernel would — the small-result-set path of
    * grn_ii_select_sequential_search (lib/ii.cpp:14290-14678). */
  private[graft] def sequentialTermMatch(idx: GraftIndex, candidates: DataFrame,
      textCol: String, terms: Seq[(String, Double)], requireAll: Boolean): DataFrame = {
    import org.apache.spark.sql.Encoders
    val tokenizerName = idx.meta.tokenizer
    val want = terms.toMap
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble)
    candidates
      .select(col("doc_id").cast("long"), col(textCol).cast("string"))
      .mapPartitions { it =>
        val tok = graft.analyzer.Analyzers.byName(tokenizerName)
        it.flatMap { r =>
          val tf = new scala.collection.mutable.HashMap[String, Int]()
          tok.tokenize(if (r.isNullAt(1)) "" else r.getString(1)).foreach { t =>
            if (want.contains(t.term)) tf.update(t.term, tf.getOrElse(t.term, 0) + 1)
          }
          val ok = if (requireAll) want.keysIterator.forall(tf.contains) else tf.nonEmpty
          if (!ok) None
          else Some((r.getLong(0), tf.iterator.map { case (t, n) => n * want(t) }.sum))
        }
      }(enc)
      .toDF("doc_id", "score")
  }

  /** full select: query -> post_filter -> scorer -> sort/offset/limit.
    *
    * With `sequentialThreshold` > 0 and a source table, an AND query whose
    * relational legs alone select few enough rows skips the index for its
    * term legs (sequential-scan fallback). */
  def select(idx: GraftIndex, req: Request): DataFrame = page(matches(idx, req), req)._1

  /** the unsorted match set: (filter | query) -> post_filter -> scorer */
  private[graft] def matches(idx: GraftIndex, req: Request): DataFrame = {
    var df =
      if (req.query.trim.isEmpty) {
        // --filter alone: script predicate over the source table, score 1
        val src = req.source.getOrElse(throw new IllegalArgumentException(
          "--filter without --query needs a source table (Request.source)"))
        val script = req.filterScript.getOrElse(throw new IllegalArgumentException(
          "Request needs a query or a filterScript"))
        src.where(ScriptParser.compile(script, src.col(_)))
          .select(col("doc_id"), lit(1.0).as("score"))
      } else queryMatches(idx, req)
    req.postFilter.foreach(f => df = df.where(f))
    req.scorer.foreach(fn => df = df.withColumn("score", fn(df)))
    df
  }

  private def queryMatches(idx: GraftIndex, req: Request): DataFrame = {
    val parsed = QueryParser.parse(req.query, req.allowLeadingNot)
    val sequential: Option[DataFrame] =
      if (req.sequentialThreshold <= 0 || req.source.isEmpty ||
        req.score != ScoreMode.Tf) None // seq path reproduces TF scoring only
      else parsed match {
        case _: AndQ =>
          val legs = flattenAnd(parsed)
          val relLegs = legs.collect { case r: RelQ => r }
          val termLegs = legs.collect { case t: TermQ => t }
          // only the pure rel+term shape has the exact sequential form
          if (relLegs.isEmpty || relLegs.size + termLegs.size != legs.size) None
          else {
            val candidates = relLegs.foldLeft(req.source.get) { (df, r) =>
              relFilter(df, r.col, r.op, r.value)
                .select(col("doc_id"))
                .join(df, Seq("doc_id"))
            }.persist()
            if (candidates.count() <= req.sequentialThreshold) {
              // cut lineage to a materialized copy so the cache can be
              // released NOW — otherwise the persisted DF leaks for the
              // session lifetime (the caller never sees `candidates`)
              val snap = candidates.localCheckpoint()
              candidates.unpersist()
              val seqDf =
                if (termLegs.isEmpty) snap.select(col("doc_id"), lit(0.0).as("score"))
                else sequentialTermMatch(idx, snap, req.textCol,
                  termLegs.map(t => t.term -> t.weight), requireAll = true)
              // relational legs score 1 each, like the index path
              Some(seqDf.select(col("doc_id"),
                (col("score") + lit(relLegs.size.toDouble)).as("score")))
            } else { candidates.unpersist(); None }
          }
        case _ => None
      }
    val df = sequential.getOrElse(
      eval(idx, parsed, req.score, req.source))
    // --query + --filter: filter restricts the match result set (AND)
    req.filterScript.fold(df) { script =>
      val src = req.source.getOrElse(throw new IllegalArgumentException(
        "filterScript needs a source table (Request.source)"))
      df.join(src.where(ScriptParser.compile(script, src.col(_)))
        .select("doc_id"), Seq("doc_id"), "left_semi")
    }
  }

  /** A page sorted and sliced on the driver: `rows`, in page order, bind to
    * `output`; `nHits` is the size of the match set before offset/limit. */
  final case class DriverPage(output: Seq[Attribute], rows: Seq[InternalRow], nHits: Long)

  /** [[pageRows]] as a DataFrame, with nHits when it came for free:
    * otherwise the caller counts `matched` itself. nHits is never a
    * `Dataset.observe` metric on the page: under `orderBy` the
    * range-partition sort samples its child in a job of its own, which runs
    * the child a second time, and the observed `count(1)` of a 2-row frame
    * read 4. */
  private[graft] def page(matched: DataFrame, req: Request): (DataFrame, Option[Long]) =
    pageRows(matched, req) match {
      case Right(p) =>
        (GraftColumnBridge.ofRows(matched.sparkSession, LocalRelation(p.output, p.rows)),
          Some(p.nHits))
      case Left(df) => (df, None)
    }

  /** sort, offset and limit over `matched`: the page's rows when `matched`
    * is rows in driver memory, else the page's plan.
    *
    * A term query under the small-query cap evaluates on the driver: its
    * match set is a LocalRelation whose row count the cap bounds. `orderBy`
    * would plan a range-partition sort (sample + map + result jobs) over
    * rows already in driver memory, and even a local sort would cost a
    * Dataset's analysis, optimization and execution. Those rows are sorted
    * here instead, by Catalyst's own ordering over the attributes the sort
    * keys resolve to with the session's resolver, so NaN, -0.0, null and
    * string order are Spark's. Any other plan over driver rows alone (a
    * post_filter or scorer over them) is first folded by the optimizer. A
    * sort key that does not resolve to a column of the rows takes the
    * `orderBy` path, which raises Spark's own error for it. */
  private[graft] def pageRows(matched: DataFrame, req: Request): Either[DataFrame, DriverPage] = {
    val qe = matched.queryExecution
    val local = qe.analyzed match {
      case rel: LocalRelation => Some(rel)
      case plan if plan.collectLeaves().forall(_.isInstanceOf[LocalRelation]) =>
        Some(qe.optimizedPlan).collect { case rel: LocalRelation => rel }
      case _ => None
    }
    val resolver = matched.sparkSession.sessionState.conf.resolver
    val sorted = local.flatMap { rel =>
      val order = req.sortKeys.map { case (c, asc) =>
        resolveColumn(rel.output, c, resolver).map(SortOrder(_, if (asc) Ascending else Descending))
      }
      if (order.forall(_.isDefined)) Some((rel, order.flatten)) else None
    }
    sorted match {
      case Some((rel, order)) =>
        val rows = rel.data.sorted(new InterpretedOrdering(order, rel.output))
          .drop(math.max(req.offset, 0))
        Right(DriverPage(rel.output, if (req.limit >= 0) rows.take(req.limit) else rows,
          rel.data.length.toLong))
      case None =>
        var out = matched.orderBy(
          req.sortKeys.map { case (c, asc) => if (asc) col(c).asc else col(c).desc }: _*)
        if (req.offset > 0) out = out.offset(req.offset)
        if (req.limit >= 0) out = out.limit(req.limit)
        Left(out)
    }
  }

  /** the attribute of `output` that the column name `name` resolves to
    * with `resolver`, as the analyzer would resolve it over those columns */
  private[graft] def resolveColumn(output: Seq[Attribute], name: String,
      resolver: Resolver): Option[Attribute] =
    LocalRelation(output).resolveQuoted(name, resolver).collect { case a: Attribute => a }

  /** drilldown over a match result joined with its source table */
  def drilldown(matched: DataFrame, source: DataFrame, keys: Seq[String],
      limit: Int = 10): DataFrame =
    matched.join(source, Seq("doc_id"))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("nsubrecs"))
      .orderBy(desc("nsubrecs") +: keys.map(col(_).asc): _*)
      .limit(limit)
}
