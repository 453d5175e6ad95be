package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.query.{MatchMode, ScoreMode}

/** Fulltext correctness-gate queries over the `documents` table, each paired
  * with DuckDB oracle SQL computing the same semantics from first principles
  * (tokenize-with-SQL; the documents corpus is pure `[a-z0-9 ]` so TokenBigram
  * tokenization == regex word split — asserted by AnalyzerSpec).
  *
  * Query shapes mirror groonga `select --query/--match_columns` operators
  * (SURVEY.md §2.3): MATCH/AND, OR, quorum, phrase, NEAR, prefix, fuzzy,
  * regexp, unsplit, adjuster, similar, plus match-escalation and a drilldown
  * over the match result.
  */
object FulltextQueries {

  /** shared oracle CTE prologue: tokens / positions / dl / corpus stats */
  private val OracleProlog: String =
    """WITH tl AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), x -> x <> '') AS toks
      |  FROM documents),
      |toks AS (SELECT doc_id, unnest(toks) AS term FROM tl),
      |ptoks AS (
      |  SELECT doc_id, tp[1] AS term, CAST(tp[2] AS INT) AS pos
      |  FROM (SELECT doc_id, unnest(list_zip(toks, range(1, len(toks)+1))) AS tp FROM tl)),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
      |""".stripMargin

  private def sqlList(terms: Seq[String]): String =
    terms.map(t => s"'$t'").mkString("(", ",", ")")

  private def longScore(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("score").cast("long").as("score"))
      .orderBy("doc_id")

  // ---- queries ----

  def andTf(spark: SparkSession, dir: String): DataFrame =
    longScore(Tables.documentsIndex(spark, dir)
      .searchTerms(Seq("spark", "join"), MatchMode.All, ScoreMode.Tf))

  val andTfSql: String = OracleProlog +
    s"""SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score FROM tf
       |WHERE term IN ${sqlList(Seq("spark", "join"))}
       |GROUP BY doc_id HAVING count(*) = 2 ORDER BY doc_id""".stripMargin

  def orQuorum(spark: SparkSession, dir: String): DataFrame =
    longScore(Tables.documentsIndex(spark, dir)
      .searchTerms(Seq("dup", "query", "vector"), MatchMode.Quorum(2), ScoreMode.Tf))

  val orQuorumSql: String = OracleProlog +
    s"""SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score FROM tf
       |WHERE term IN ${sqlList(Seq("dup", "query", "vector"))}
       |GROUP BY doc_id HAVING count(*) >= 2 ORDER BY doc_id""".stripMargin

  def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val idx = Tables.documentsIndex(spark, dir)
    idx.topK(idx.searchTerms(Seq("spark", "dup", "window"),
        MatchMode.Any, ScoreMode.Bm25(), topK = 10), 10)
      .select(col("doc_id"), round(col("score"), 4).as("score"))
  }

  // the k-boundary cut MUST rank by the UNROUNDED score (the engine's tie
  // order): an outer `ORDER BY score` would bind to the rounded output
  // alias and could pick a different doc when two exact-distinct scores
  // round equal at the boundary — so rounding happens outside the LIMIT
  val bm25TopKSql: String = OracleProlog +
    s"""SELECT doc_id, round(s.score, 4) AS score FROM (
       |  SELECT doc_id, score FROM (
       |    SELECT tf.doc_id,
       |      sum(ln((n_docs - df + 0.5)/(df + 0.5) + 1.0) *
       |          tf * (2.0 + 1.0) / (tf + 2.0 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl))) AS score
       |    FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       |    WHERE term IN ${sqlList(Seq("spark", "dup", "window"))}
       |    GROUP BY tf.doc_id)
       |  ORDER BY score DESC, doc_id LIMIT 10) s
       |ORDER BY s.score DESC, doc_id""".stripMargin

  def bm25And(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsIndex(spark, dir)
      .searchTerms(Seq("merge", "filter"), MatchMode.All, ScoreMode.Bm25())
      .select(col("doc_id"), round(col("score"), 4).as("score"))
      .orderBy("doc_id")

  val bm25AndSql: String = OracleProlog +
    s"""SELECT doc_id, round(score, 4) AS score FROM (
       |  SELECT tf.doc_id,
       |    sum(ln((n_docs - df + 0.5)/(df + 0.5) + 1.0) *
       |        tf * (2.0 + 1.0) / (tf + 2.0 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl))) AS score,
       |    count(*) AS nt
       |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       |  WHERE term IN ${sqlList(Seq("merge", "filter"))}
       |  GROUP BY tf.doc_id) WHERE nt = 2
       |ORDER BY doc_id""".stripMargin

  def phrase(spark: SparkSession, dir: String): DataFrame =
    longScore(Tables.documentsIndex(spark, dir).searchPhrase("batch batch"))

  val phraseSql: String = OracleProlog +
    """SELECT a.doc_id, CAST(count(*) AS BIGINT) AS score
      |FROM ptoks a JOIN ptoks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      |WHERE a.term = 'batch' AND b.term = 'batch'
      |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin

  def near(spark: SparkSession, dir: String): DataFrame =
    longScore(Tables.documentsIndex(spark, dir)
      .searchTerms(Seq("key", "order"), MatchMode.Near(2), ScoreMode.Tf))

  val nearSql: String = OracleProlog +
    s"""SELECT t.doc_id, CAST(sum(t.tf) AS BIGINT) AS score FROM tf t
       |WHERE t.term IN ('key','order')
       |GROUP BY t.doc_id
       |HAVING count(*) = 2 AND EXISTS (
       |  SELECT 1 FROM ptoks a JOIN ptoks b ON a.doc_id = b.doc_id
       |  WHERE a.doc_id = t.doc_id AND a.term = 'key' AND b.term = 'order'
       |    AND abs(a.pos - b.pos) <= 2)
       |ORDER BY t.doc_id""".stripMargin

  def prefix(spark: SparkSession, dir: String): DataFrame = {
    val idx = Tables.documentsIndex(spark, dir)
    val expanded = idx.expandPrefix("s")
    longScore(idx.searchTerms(expanded, MatchMode.Any, ScoreMode.Tf))
  }

  val prefixSql: String = OracleProlog +
    """SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score FROM tf
      |WHERE term LIKE 's%' GROUP BY doc_id ORDER BY doc_id""".stripMargin

  def fuzzy(spark: SparkSession, dir: String): DataFrame = {
    val idx = Tables.documentsIndex(spark, dir)
    val expanded = idx.expandFuzzy("hashh", maxDistance = 1)
    longScore(idx.searchTerms(expanded, MatchMode.Any, ScoreMode.Tf))
  }

  val fuzzySql: String = OracleProlog +
    """SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score FROM tf
      |WHERE term IN (SELECT term FROM df WHERE levenshtein(term, 'hashh') <= 1)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** FUZZY with WITH_TRANSPOSITION: 'psark' reaches 'spark' in ONE edit
    * (adjacent swap) where plain levenshtein needs two. Gate pinned at
    * maxDistance=1, where the reference's restricted (OSA) DP and the
    * oracle's damerau_levenshtein provably agree; the >=2 divergence
    * cases are FuzzySpec territory. */
  def fuzzyTransposition(spark: SparkSession, dir: String): DataFrame = {
    val idx = Tables.documentsIndex(spark, dir)
    val expanded = idx.expandFuzzy("psark", maxDistance = 1, withTransposition = true)
    if (expanded.isEmpty) idx.emptyResult
      .select(col("doc_id"), col("score").cast("long").as("score"))
    else longScore(idx.searchTerms(expanded, MatchMode.Any, ScoreMode.Tf))
  }

  val fuzzyTranspositionSql: String = OracleProlog +
    """SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score FROM tf
      |WHERE term IN (SELECT term FROM df WHERE damerau_levenshtein(term, 'psark') <= 1)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  def regexp(spark: SparkSession, dir: String): DataFrame =
    longScore(Tables.documentsIndex(spark, dir).searchRegexp("^qu.*y$"))

  val regexpSql: String = OracleProlog +
    """SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score FROM tf
      |WHERE term IN (SELECT term FROM df WHERE regexp_matches(term, '^qu.*y$'))
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Document-level regexp over the TokenRegexp grams index (the
    * reference's indexed `@~`: TokenRegexp ADD grams + begin/end marks,
    * /root/reference/lib/tokenizers.c:1289): each pattern's required
    * literal prunes through a mark-bracketed gram phrase (`\A`/`\z` ride
    * the marks, so anchored patterns prune by position), then the full
    * regex confirms each candidate on the doc text — index prune + exact
    * verify, the Spark shape of the reference's Onigmo re-check. Patterns
    * cover begin-anchor, end-anchor, a class pattern (mid-pattern
    * literal), and a multiword literal (longest blank-free run). */
  def regexpGrams(spark: SparkSession, dir: String): DataFrame = {
    val idx = Tables.documentsRegexpIndex(spark, dir)
    val docs = Tables.table(spark, dir, "documents")
    val pats = Seq("\\Aspark", "scan\\z", "sp[aeiou]rk", "batch batch")
    pats.map { p =>
      val cands = idx.searchRegexpGrams(p) match {
        case Some(c) => docs.join(c.select(col("doc_id")), Seq("doc_id"))
        case None => docs
      }
      cands.where(col("text").rlike(p))
        .select(lit(p).as("pattern"), col("doc_id"))
    }.reduce(_.unionByName(_)).orderBy("pattern", "doc_id")
  }

  val regexpGramsSql: String =
    """SELECT pattern, doc_id FROM (
      |  SELECT '\Aspark' AS pattern, doc_id FROM documents WHERE regexp_matches(text, '\Aspark')
      |  UNION ALL SELECT 'scan\z', doc_id FROM documents WHERE regexp_matches(text, 'scan\z')
      |  UNION ALL SELECT 'sp[aeiou]rk', doc_id FROM documents WHERE regexp_matches(text, 'sp[aeiou]rk')
      |  UNION ALL SELECT 'batch batch', doc_id FROM documents WHERE regexp_matches(text, 'batch batch')
      |) ORDER BY pattern, doc_id""".stripMargin

  def unsplit(spark: SparkSession, dir: String): DataFrame =
    longScore(Tables.documentsIndex(spark, dir)
      .searchTerms(Seq("dup"), MatchMode.All, ScoreMode.Tf))

  val unsplitSql: String = OracleProlog +
    """SELECT doc_id, CAST(tf AS BIGINT) AS score FROM tf
      |WHERE term = 'dup' ORDER BY doc_id""".stripMargin

  /** --adjuster: base AND match, score boosted by +factor*tf for docs also
    * containing the boost term (proc_select.cpp:3549-3707 semantics). */
  def adjuster(spark: SparkSession, dir: String): DataFrame = {
    val idx = Tables.documentsIndex(spark, dir)
    val base = idx.searchTerms(Seq("sort", "table"), MatchMode.All, ScoreMode.Tf)
    val boost = idx.searchTerms(Seq("dup"), MatchMode.All, ScoreMode.Tf)
      .withColumnRenamed("score", "boost")
    base.join(boost, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("score") + coalesce(col("boost") * 3.0, lit(0.0))).cast("long").as("score"))
      .orderBy("doc_id")
  }

  val adjusterSql: String = OracleProlog +
    s"""SELECT b.doc_id, CAST(b.score + coalesce(3 * a.tf, 0) AS BIGINT) AS score
       |FROM (SELECT doc_id, sum(tf) AS score FROM tf
       |      WHERE term IN ('sort','table') GROUP BY doc_id HAVING count(*) = 2) b
       |LEFT JOIN (SELECT doc_id, tf FROM tf WHERE term = 'dup') a USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin

  /** named scorer scorer_tf_at_most(max): per-leg score min(tf, max)
    * (/root/reference/lib/scorers.c:55-90) */
  def scorerTfAtMost(spark: SparkSession, dir: String): DataFrame =
    longScore(Tables.documentsIndex(spark, dir)
      .searchTerms(Seq("spark"), MatchMode.Any, ScoreMode.TfAtMost(2.0)))

  val scorerTfAtMostSql: String = OracleProlog +
    """SELECT doc_id, CAST(least(tf, 2) AS BIGINT) AS score FROM tf
      |WHERE term = 'spark' ORDER BY doc_id""".stripMargin

  /** named scorer scorer_tf_idf: per-leg max(tf * ln(N/df), 1), legs
    * OR-accumulate (/root/reference/lib/scorers.c:26-53) */
  def scorerTfIdf(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsIndex(spark, dir)
      .searchTerms(Seq("spark", "window"), MatchMode.Any, ScoreMode.TfIdf)
      .select(col("doc_id"), round(col("score"), 4).as("score"))
      .orderBy("doc_id")

  val scorerTfIdfSql: String = OracleProlog +
    """SELECT doc_id, round(sum(leg), 4) AS score FROM (
      |  SELECT t.doc_id,
      |    CASE WHEN d.df >= s.n_docs THEN 1.0
      |         ELSE greatest(t.tf * ln(CAST(s.n_docs AS DOUBLE) / d.df), 1.0) END AS leg
      |  FROM tf t JOIN df d USING (term) CROSS JOIN stats s
      |  WHERE t.term IN ('spark', 'window'))
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** OR-accumulate two (doc_id, score) result sets (grn result-set OR:
    * scores add on overlap, table_selector.c merge ops) */
  private def orAccumulate(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("doc_id")).agg(sum(col("score")).as("score"))

  /** The FULL match-escalation ladder of grn_ii_sel
    * (/root/reference/lib/ii.cpp:15031-15170): exact -> UNSPLIT -> PARTIAL,
    * each rung OR-accumulating into the result set and running only while
    * accumulated hits <= `threshold` (reference default 0 = escalate only
    * from empty).
    *  - UNSPLIT (lib/ii.cpp:10969-10977): ONE term-info over the whole
    *    blank-stripped normalized query with EX_BOTH expansion — dictionary
    *    terms having the query as prefix OR suffix. This is the rung that
    *    catches queries the tokenizer splits apart ("win dow" -> "window").
    *  - PARTIAL: per-token EX_BOTH expansion.
    * Each rung is localCheckpoint-materialized: computed once for both the
    * hit-count probe and the accumulation, no persisted-cache leak. */
  def searchEscalated(idx: graft.index.GraftIndex, raw: String,
      threshold: Long = 0L): DataFrame = {
    def hits(df: DataFrame): Boolean =
      df.limit((threshold + 1).toInt).count() > threshold
    val toks = idx.analyzeQuery(raw).map(_._1)
    val exact = (if (toks.isEmpty) idx.emptyResult
      else idx.searchTerms(toks, MatchMode.All, ScoreMode.Tf)).localCheckpoint()
    if (hits(exact)) return exact
    // at the reference-default threshold 0, a failed rung is EMPTY (count
    // <= 0), so OR-accumulating it is the identity: skip the union+groupBy
    // job (and the rung's hit-count job when the rung added no terms).
    // searchTerms output is one row per doc, so the skipped
    // groupBy(doc_id).sum(score) could never merge rows anyway.
    val rungIsEmpty = threshold == 0L
    val whole = graft.analyzer.Normalizer.normalize(raw).text
      .filterNot(Character.isWhitespace)
    val unsTerms =
      if (whole.isEmpty) Nil
      else (idx.expandPrefix(whole) ++ idx.expandSuffix(whole)).distinct
    val afterUnsplit =
      if (unsTerms.isEmpty) exact // no-op rung: nothing to accumulate
      else {
        val uns = idx.searchTerms(unsTerms, MatchMode.Any, ScoreMode.Tf)
        (if (rungIsEmpty) uns else orAccumulate(exact, uns)).localCheckpoint()
      }
    if (unsTerms.nonEmpty && hits(afterUnsplit)) return afterUnsplit
    val pTerms = toks.flatMap(t => idx.expandPrefix(t) ++ idx.expandSuffix(t)).distinct
    if (pTerms.isEmpty) return afterUnsplit // no-op rung
    val part = idx.searchTerms(pTerms, MatchMode.Any, ScoreMode.Tf)
    if (rungIsEmpty) part else orAccumulate(afterUnsplit, part)
  }

  /** match escalation reaching the PARTIAL rung: exact AND finds nothing
    * for truncated tokens, UNSPLIT ("windostrea") finds nothing either,
    * PARTIAL per-token EX_BOTH expansion matches. */
  def escalation(spark: SparkSession, dir: String): DataFrame =
    longScore(searchEscalated(Tables.documentsIndex(spark, dir), "windo strea"))

  val escalationSql: String = OracleProlog +
    """SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score FROM tf
      |WHERE term LIKE 'windo%' OR term LIKE '%windo'
      |   OR term LIKE 'strea%' OR term LIKE '%strea'
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** match escalation stopping at the UNSPLIT rung: "win dow" tokenizes
    * into two unknown terms (exact empty), but the blank-stripped whole
    * query "window" hits the dictionary — the ladder returns the UNSPLIT
    * result without running PARTIAL. */
  def escalationUnsplit(spark: SparkSession, dir: String): DataFrame =
    longScore(searchEscalated(Tables.documentsIndex(spark, dir), "win dow"))

  val escalationUnsplitSql: String = OracleProlog +
    """SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score FROM tf
      |WHERE term LIKE 'window%' OR term LIKE '%window'
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** GRN_OP_SIMILAR: OR-match on the rarest tokens of a seed document
    * (grn_ii_similar_search, /root/reference/lib/ii.cpp:12458). */
  def similar(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val idx = Tables.documentsIndex(spark, dir)
    val seedText = Tables.table(spark, dir, "documents")
      .where(col("doc_id") === 0L).select("text").as[String].head()
    val seedTerms = graft.analyzer.Analyzers.bigram.terms(seedText).distinct.toSeq
    val stats = idx.termStats(seedTerms)
    val rarest = seedTerms
      .map(t => (t, stats.get(t).map(_.df).getOrElse(Long.MaxValue)))
      .sortBy { case (t, d) => (d, t) }.take(5).map(_._1)
    longScore(idx.searchTerms(rarest, MatchMode.Any, ScoreMode.Tf))
  }

  val similarSql: String = OracleProlog +
    """, seed AS (SELECT DISTINCT term FROM toks WHERE doc_id = 0),
      |rare AS (SELECT term FROM seed JOIN df USING (term)
      |         ORDER BY df, term LIMIT 5)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score FROM tf
      |WHERE term IN (SELECT term FROM rare)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** post-update state: build a fresh index, DELETE doc_id%50==7, UPSERT
    * doc_id%50==3 with new text, then search — tombstones + key-merge
    * (lib/load.c:794-1203, grn_ii_delete_one lib/grn_ii.h:158). The oracle
    * computes the same query over the mutated corpus directly. */
  def afterUpdate(spark: SparkSession, dir: String): DataFrame =
    longScore(Tables.documentsMutatedIndex(spark, dir)
      .searchTerms(Seq("spark"), MatchMode.Any, ScoreMode.Tf))

  /** oracle prologue over the POST-MUTATION corpus (deterministic batch
    * Tables.documentsMutatedIndex applies): same CTEs as OracleProlog so
    * the BM25 formula below is shared verbatim */
  private val MutatedProlog: String =
    """WITH cur AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 50 = 3 THEN 'graftupd graftupd spark' ELSE text END AS text
      |  FROM documents WHERE doc_id % 50 <> 7),
      |tl AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), x -> x <> '') AS toks
      |  FROM cur),
      |toks AS (SELECT doc_id, unnest(toks) AS term FROM tl),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
      |""".stripMargin

  val afterUpdateSql: String = MutatedProlog +
    """SELECT doc_id, CAST(tf AS BIGINT) AS score FROM tf
      |WHERE term = 'spark' ORDER BY doc_id""".stripMargin

  /** BM25 over the mutated, UNCOMPACTED index: exercises the resolve-time
    * exact df/idf recomputation under tombstones (GraftIndex.termStats)
    * — the oracle computes BM25 from a from-scratch mutated corpus, so any
    * df/avgdl drift would flip the hash. */
  def afterUpdateBm25(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsMutatedIndex(spark, dir)
      .searchTerms(Seq("spark", "dup"), MatchMode.Any, ScoreMode.Bm25())
      .select(col("doc_id"), round(col("score"), 4).as("score"))
      .orderBy("doc_id")

  val afterUpdateBm25Sql: String = MutatedProlog +
    s"""SELECT doc_id, round(score, 4) AS score FROM (
       |  SELECT tf.doc_id,
       |    sum(ln((n_docs - df + 0.5)/(df + 0.5) + 1.0) *
       |        tf * (2.0 + 1.0) / (tf + 2.0 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl))) AS score
       |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       |  WHERE term IN ${sqlList(Seq("spark", "dup"))}
       |  GROUP BY tf.doc_id)
       |ORDER BY doc_id""".stripMargin

  /** stemmed index + stemmed query: 'queries' matches docs containing
    * 'query'/'queries' — the token-filter pipeline applied consistently on
    * both sides (plugins/token_filters/stem.c; the gate uses the
    * SQL-replicable S-stemmer, the library also ships Porter). */
  def stemmed(spark: SparkSession, dir: String): DataFrame = {
    val idx = Tables.documentsStemmedIndex(spark, dir)
    val qterms = idx.analyzeQuery("queries").map(_._1).distinct
    longScore(idx.searchTerms(qterms, MatchMode.Any, ScoreMode.Tf))
  }

  val stemmedSql: String = OracleProlog +
    """, st AS (
      |  SELECT doc_id, CASE
      |    WHEN term LIKE '%ies' THEN
      |      CASE WHEN len(term) >= 4 AND term NOT LIKE '%eies' AND term NOT LIKE '%aies'
      |           THEN substr(term, 1, len(term) - 3) || 'y' ELSE term END
      |    WHEN term LIKE '%es' THEN
      |      CASE WHEN len(term) >= 4 AND term NOT LIKE '%aes'
      |             AND term NOT LIKE '%ees' AND term NOT LIKE '%oes'
      |           THEN substr(term, 1, len(term) - 1) ELSE term END
      |    WHEN term LIKE '%s' THEN
      |      CASE WHEN len(term) >= 3 AND term NOT LIKE '%us' AND term NOT LIKE '%ss'
      |           THEN substr(term, 1, len(term) - 1) ELSE term END
      |    ELSE term END AS sterm
      |  FROM toks)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS score FROM st
      |WHERE sterm = 'query' GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** SUFFIX mode via the reversed-term dictionary: docs containing any term
    * ending in 'ow' (GRN_OP_SUFFIX, reversed-key cursor lib/ii.cpp:10989). */
  def suffix(spark: SparkSession, dir: String): DataFrame =
    longScore(Tables.documentsIndex(spark, dir).searchSuffix("ow"))

  val suffixSql: String = OracleProlog +
    """SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score FROM tf
      |WHERE term LIKE '%ow' GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** query syntax with relational + equality column predicates:
    * `spark +n_chars:<250 +lang:en` — ft leg scored by tf, each matched
    * scalar predicate contributes 1 (lib/expr.c comparison ops). */
  def queryRelational(spark: SparkSession, dir: String): DataFrame = {
    val idx = Tables.documentsIndex(spark, dir)
    val docs = Tables.table(spark, dir, "documents")
    graft.operators.Select.eval(idx,
        graft.query.QueryParser.parse("spark +n_chars:<250 +lang:en"),
        ScoreMode.Tf, source = Some(docs))
      .select(col("doc_id"), col("score").cast("long").as("score"))
      .orderBy("doc_id")
  }

  val queryRelationalSql: String = OracleProlog +
    """SELECT t.doc_id, CAST(t.tf + 2 AS BIGINT) AS score
      |FROM tf t JOIN documents d USING (doc_id)
      |WHERE t.term = 'spark' AND d.n_chars < 250 AND d.lang = 'en'
      |ORDER BY t.doc_id""".stripMargin

  /** NEAR_PHRASE: '*NP "batch batch" "spark"' — the 2-gram phrase and the
    * word within 15 positions (263 reference tests under
    * test/command/suite/select/query/ near_phrase). Score = Σ phrase
    * occurrence counts per doc. */
  def nearPhrase(spark: SparkSession, dir: String): DataFrame =
    longScore(Tables.documentsIndex(spark, dir)
      .searchNearPhrase(Seq("batch batch", "spark"), maxInterval = 15))

  val nearPhraseSql: String = OracleProlog +
    """, ph1 AS (
      |  SELECT a.doc_id, a.pos AS p FROM ptoks a
      |  JOIN ptoks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      |  WHERE a.term = 'batch' AND b.term = 'batch'),
      |ph2 AS (SELECT doc_id, pos AS p FROM ptoks WHERE term = 'spark'),
      |m AS (SELECT DISTINCT p1.doc_id FROM ph1 p1
      |      JOIN ph2 p2 ON p1.doc_id = p2.doc_id AND abs(p1.p - p2.p) <= 15),
      |c1 AS (SELECT doc_id, count(*) AS n FROM ph1 GROUP BY 1),
      |c2 AS (SELECT doc_id, count(*) AS n FROM ph2 GROUP BY 1)
      |SELECT m.doc_id, CAST(c1.n + c2.n AS BIGINT) AS score
      |FROM m JOIN c1 USING (doc_id) JOIN c2 USING (doc_id)
      |ORDER BY m.doc_id""".stripMargin

  /** ORDERED_NEAR_PHRASE: '*ONP "spark" "join"' — 'join' after 'spark'
    * within 6 positions. */
  def orderedNearPhrase(spark: SparkSession, dir: String): DataFrame =
    longScore(Tables.documentsIndex(spark, dir)
      .searchNearPhrase(Seq("spark", "join"), maxInterval = 6, ordered = true))

  val orderedNearPhraseSql: String = OracleProlog +
    """, ph1 AS (SELECT doc_id, pos AS p FROM ptoks WHERE term = 'spark'),
      |ph2 AS (SELECT doc_id, pos AS p FROM ptoks WHERE term = 'join'),
      |m AS (SELECT DISTINCT p1.doc_id FROM ph1 p1
      |      JOIN ph2 p2 ON p1.doc_id = p2.doc_id
      |        AND p2.p > p1.p AND p2.p - p1.p <= 6),
      |c1 AS (SELECT doc_id, count(*) AS n FROM ph1 GROUP BY 1),
      |c2 AS (SELECT doc_id, count(*) AS n FROM ph2 GROUP BY 1)
      |SELECT m.doc_id, CAST(c1.n + c2.n AS BIGINT) AS score
      |FROM m JOIN c1 USING (doc_id) JOIN c2 USING (doc_id)
      |ORDER BY m.doc_id""".stripMargin

  /** NEAR_PHRASE_PRODUCT: ("batch batch" OR "spark") within 12 of "dup" —
    * one alternative from each group inside the window
    * (lib/ii.cpp:12903+). */
  def nearPhraseProduct(spark: SparkSession, dir: String): DataFrame =
    longScore(Tables.documentsIndex(spark, dir).searchNearPhraseProduct(
      Seq(Seq("batch batch", "spark"), Seq("dup")), maxInterval = 12))

  val nearPhraseProductSql: String = OracleProlog +
    """, pbb AS (
      |  SELECT a.doc_id, a.pos AS p FROM ptoks a
      |  JOIN ptoks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      |  WHERE a.term = 'batch' AND b.term = 'batch'),
      |g1 AS (SELECT doc_id, p FROM pbb
      |       UNION SELECT doc_id, pos AS p FROM ptoks WHERE term = 'spark'),
      |g2 AS (SELECT doc_id, pos AS p FROM ptoks WHERE term = 'dup'),
      |m AS (SELECT DISTINCT g1.doc_id FROM g1
      |      JOIN g2 ON g1.doc_id = g2.doc_id AND abs(g1.p - g2.p) <= 12),
      |c1 AS (SELECT doc_id, count(*) AS n FROM g1 GROUP BY 1),
      |c2 AS (SELECT doc_id, count(*) AS n FROM g2 GROUP BY 1)
      |SELECT m.doc_id, CAST(c1.n + c2.n AS BIGINT) AS score
      |FROM m JOIN c1 USING (doc_id) JOIN c2 USING (doc_id)
      |ORDER BY m.doc_id""".stripMargin

  /** weighted multi-column match — `--match_columns "title * 10 || text"`
    * over the sectioned (sid-carrying) index: score = 10*tf_title + tf_text,
    * match if the term occurs in either section
    * (/root/reference/lib/ii.cpp:13694-13696 weighted scoring; 81 reference
    * tests under test/command/suite/select/match_columns/). */
  def matchColumns(spark: SparkSession, dir: String): DataFrame = {
    val idx = Tables.documentsSectionedIndex(spark, dir)
    longScore(idx.searchTerms(Seq("spark"), MatchMode.Any, ScoreMode.Tf,
      sectionWeights = Map("title" -> 10.0, "text" -> 1.0)))
  }

  val matchColumnsSql: String = OracleProlog +
    """, ttf AS (
      |  SELECT doc_id, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(toks[1:5]) AS term FROM tl)
      |  WHERE term = 'spark' GROUP BY 1),
      |btf AS (SELECT doc_id, tf FROM tf WHERE term = 'spark')
      |SELECT coalesce(t.doc_id, b.doc_id) AS doc_id,
      |  CAST(coalesce(10 * t.tf, 0) + coalesce(b.tf, 0) AS BIGINT) AS score
      |FROM ttf t FULL OUTER JOIN btf b ON t.doc_id = b.doc_id
      |ORDER BY doc_id""".stripMargin

  /** same semantics through the STRING front: the weights come from
    * parsing the reference's `--match_columns` syntax instead of a
    * hand-built map — portability for existing groonga select requests. */
  def matchColumnsStr(spark: SparkSession, dir: String): DataFrame = {
    val idx = Tables.documentsSectionedIndex(spark, dir)
    longScore(idx.searchTerms(Seq("spark"), MatchMode.Any, ScoreMode.Tf,
      sectionWeights = graft.query.MatchColumns.parse("title * 10 || text")))
  }

  val matchColumnsStrSql: String = matchColumnsSql

  /** conjunctive weighted match_columns: both terms required (in either
    * section), per-term score summed with section weights. */
  def matchColumnsAnd(spark: SparkSession, dir: String): DataFrame = {
    val idx = Tables.documentsSectionedIndex(spark, dir)
    longScore(idx.searchTerms(Seq("spark", "join"), MatchMode.All, ScoreMode.Tf,
      sectionWeights = Map("title" -> 10.0, "text" -> 1.0)))
  }

  val matchColumnsAndSql: String = OracleProlog +
    """, ttf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(toks[1:5]) AS term FROM tl)
      |  WHERE term IN ('spark','join') GROUP BY 1, 2),
      |btf AS (SELECT doc_id, term, tf FROM tf WHERE term IN ('spark','join')),
      |per_term AS (
      |  SELECT b.doc_id, b.term, coalesce(10 * t.tf, 0) + b.tf AS s
      |  FROM btf b LEFT JOIN ttf t ON b.doc_id = t.doc_id AND b.term = t.term)
      |SELECT doc_id, CAST(sum(s) AS BIGINT) AS score
      |FROM per_term GROUP BY doc_id HAVING count(*) = 2
      |ORDER BY doc_id""".stripMargin

  /** drilldown over the match result: facet matched docs by lang with
    * count + max score (grn_table_group calc types,
    * include/groonga/table.h:723-730). */
  def drilldown(spark: SparkSession, dir: String): DataFrame = {
    val idx = Tables.documentsIndex(spark, dir)
    val matched = idx.searchTerms(Seq("spark", "join"), MatchMode.All, ScoreMode.Tf)
    matched.join(Tables.table(spark, dir, "documents"), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("nsubrecs"), max(col("score")).cast("long").as("max_score"))
      .orderBy("lang")
  }

  val drilldownSql: String = OracleProlog +
    s""", matched AS (
       |  SELECT doc_id, sum(tf) AS score FROM tf
       |  WHERE term IN ('spark','join') GROUP BY doc_id HAVING count(*) = 2)
       |SELECT d.lang, count(*) AS nsubrecs, CAST(max(m.score) AS BIGINT) AS max_score
       |FROM matched m JOIN documents d USING (doc_id)
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  /** the queries the batched-search gate runs — one scan for all three */
  private val BatchQueries = Seq(
    Seq("spark", "dup", "window"), Seq("spark", "window"), Seq("dup"))

  /** batched multi-query BM25 top-10: ONE pruned postings scan answers
    * all three queries (GraftIndex.searchTermsBatch); oracle = the
    * per-query BM25 replay UNION ALL'd. */
  def batchTopk(spark: SparkSession, dir: String): DataFrame = {
    val idx = Tables.documentsIndex(spark, dir)
    idx.topKPerQuery(
        idx.searchTermsBatch(BatchQueries, MatchMode.Any, ScoreMode.Bm25(),
          topK = 10), 10)
      .select(col("query_id"), col("doc_id"),
        round(col("score"), 4).as("score"))
      .orderBy("query_id", "doc_id")
  }

  // LIMIT ranks by the UNROUNDED score (see bm25TopKSql's boundary note);
  // rounding is applied outside the cut
  private def bm25TopkSelect(qid: Int, terms: Seq[String]): String =
    s"""SELECT query_id, doc_id, round(t.score, 4) AS score FROM (
       |  SELECT $qid AS query_id, doc_id, score FROM (
       |    SELECT tf.doc_id,
       |      sum(ln((n_docs - df + 0.5)/(df + 0.5) + 1.0) *
       |          tf * (2.0 + 1.0) / (tf + 2.0 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl))) AS score
       |    FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       |    WHERE term IN ${sqlList(terms)}
       |    GROUP BY tf.doc_id)
       |  ORDER BY score DESC, doc_id LIMIT 10) t""".stripMargin

  val batchTopkSql: String = OracleProlog +
    BatchQueries.zipWithIndex
      .map { case (ts, i) => bm25TopkSelect(i, ts) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY query_id, doc_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ft_batch_topk" -> batchTopk,
    "ft_and_tf" -> andTf,
    "ft_or_quorum" -> orQuorum,
    "ft_bm25_topk" -> bm25TopK,
    "ft_bm25_and" -> bm25And,
    "ft_phrase" -> phrase,
    "ft_near" -> near,
    "ft_prefix" -> prefix,
    "ft_fuzzy" -> fuzzy,
    "ft_fuzzy_transposition" -> fuzzyTransposition,
    "ft_regexp" -> regexp,
    "ft_regexp_grams" -> regexpGrams,
    "ft_unsplit" -> unsplit,
    "ft_adjuster" -> adjuster,
    "ft_escalation" -> escalation,
    "ft_escalation_unsplit" -> escalationUnsplit,
    "scorer_tf_at_most" -> scorerTfAtMost,
    "scorer_tf_idf" -> scorerTfIdf,
    "ft_similar" -> similar,
    "ft_drilldown" -> drilldown,
    "ft_match_columns" -> matchColumns,
    "ft_match_columns_str" -> matchColumnsStr,
    "ft_match_columns_and" -> matchColumnsAnd,
    "ft_near_phrase" -> nearPhrase,
    "ft_ordered_near_phrase" -> orderedNearPhrase,
    "ft_near_phrase_product" -> nearPhraseProduct,
    "ft_suffix" -> suffix,
    "ft_query_relational" -> queryRelational,
    "ft_after_update" -> afterUpdate,
    "ft_after_update_bm25" -> afterUpdateBm25,
    "ft_stemmed" -> stemmed)

  val oracles: Map[String, String] = Map(
    "ft_batch_topk" -> batchTopkSql,
    "ft_and_tf" -> andTfSql,
    "ft_or_quorum" -> orQuorumSql,
    "ft_bm25_topk" -> bm25TopKSql,
    "ft_bm25_and" -> bm25AndSql,
    "ft_phrase" -> phraseSql,
    "ft_near" -> nearSql,
    "ft_prefix" -> prefixSql,
    "ft_fuzzy" -> fuzzySql,
    "ft_fuzzy_transposition" -> fuzzyTranspositionSql,
    "ft_regexp" -> regexpSql,
    "ft_regexp_grams" -> regexpGramsSql,
    "ft_unsplit" -> unsplitSql,
    "ft_adjuster" -> adjusterSql,
    "ft_escalation" -> escalationSql,
    "ft_escalation_unsplit" -> escalationUnsplitSql,
    "scorer_tf_at_most" -> scorerTfAtMostSql,
    "scorer_tf_idf" -> scorerTfIdfSql,
    "ft_similar" -> similarSql,
    "ft_drilldown" -> drilldownSql,
    "ft_match_columns" -> matchColumnsSql,
    "ft_match_columns_str" -> matchColumnsStrSql,
    "ft_match_columns_and" -> matchColumnsAndSql,
    "ft_near_phrase" -> nearPhraseSql,
    "ft_ordered_near_phrase" -> orderedNearPhraseSql,
    "ft_near_phrase_product" -> nearPhraseProductSql,
    "ft_suffix" -> suffixSql,
    "ft_query_relational" -> queryRelationalSql,
    "ft_after_update" -> afterUpdateSql,
    "ft_after_update_bm25" -> afterUpdateBm25Sql,
    "ft_stemmed" -> stemmedSql)
}
