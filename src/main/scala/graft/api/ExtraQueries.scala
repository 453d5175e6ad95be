package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analyzer.Analyzers
import graft.query.{MatchMode, ScoreMode}

/** Second wave of operator coverage: the groonga command surface beyond
  * core match — tokenize, scorer exprs, highlight/snippet, geo, in_records,
  * sharded count, labeled drilldowns, index-meta functions.
  */
object ExtraQueries {

  /** `tokenize` command equivalent (lib/proc/proc_tokenize.c:541-560):
    * token stream with positions for a document range — doubles as a
    * cross-engine tokenizer identity check. */
  def tokenizeCmd(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.table(spark, dir, "documents")
      .where(col("doc_id") < 20)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        Analyzers.bigram.tokenize(text).map(t => (id, t.pos, t.term))
      }
      .toDF("doc_id", "pos", "term")
      .orderBy("doc_id", "pos")
  }

  val tokenizeCmdSql: String =
    """WITH tl AS (SELECT doc_id, list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), x -> x <> '') AS toks
      |            FROM documents WHERE doc_id < 20)
      |SELECT doc_id, CAST(tp[2] AS INT) - 1 AS pos, tp[1] AS term
      |FROM (SELECT doc_id, unnest(list_zip(toks, range(1, len(toks)+1))) AS tp FROM tl)
      |ORDER BY doc_id, pos""".stripMargin

  /** `tokenize` with a StopWord token filter: stop tokens dropped, the
    * surviving tokens KEEP their original positions (groonga skips stop
    * words without renumbering, plugins/token_filters/stop_word.c). */
  def tokenizeFiltered(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stop = Seq("the", "of", "and", "a", "to", "in")
    val tok = Analyzers.byName(
      s"TokenBigram+TokenFilterStopWord(${stop.mkString(",")})")
    Tables.table(spark, dir, "documents")
      .where(col("doc_id") < 20)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) => tok.tokenize(text).map(t => (id, t.pos, t.term)) }
      .toDF("doc_id", "pos", "term")
      .orderBy("doc_id", "pos")
  }

  val tokenizeFilteredSql: String =
    """WITH tl AS (SELECT doc_id, list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), x -> x <> '') AS toks
      |            FROM documents WHERE doc_id < 20)
      |SELECT doc_id, CAST(tp[2] AS INT) - 1 AS pos, tp[1] AS term
      |FROM (SELECT doc_id, unnest(list_zip(toks, range(1, len(toks)+1))) AS tp FROM tl)
      |WHERE tp[1] NOT IN ('the','of','and','a','to','in')
      |ORDER BY doc_id, pos""".stripMargin

  /** --scorer: arbitrary expression assigned to _score after matching
    * (grn_select_apply_scorer, lib/proc/proc_select.cpp:3721). */
  def scorerExpr(spark: SparkSession, dir: String): DataFrame = {
    val idx = Tables.documentsIndex(spark, dir)
    idx.searchTerms(Seq("spark"), MatchMode.All, ScoreMode.Tf)
      .join(idx.docs, Seq("doc_id"))
      .select(col("doc_id"),
        (floor((col("score") * 2 + col("dl") * 0.1) * 10000) / 10000.0).as("score2"))
      .orderBy("doc_id")
  }

  val scorerExprSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |tf AS (SELECT doc_id, count(*) AS tf FROM toks WHERE term = 'spark' GROUP BY 1)
      |SELECT doc_id, floor((tf * 2 + dl * 0.1) * 10000) / 10000.0 AS score2
      |FROM tf JOIN dl USING (doc_id) ORDER BY doc_id""".stripMargin

  /** multi-term position-driven highlight: tokens matched in normalized
    * lexicon space, tags inserted at token source offsets
    * (lib/proc/proc_highlight.c / lib/highlighter.c). The oracle's
    * word-boundary regex is equivalent ONLY because this corpus is plain
    * [a-z0-9 ] — the Spark side uses the analyzer's offsets and also
    * handles normalization + overlapping-gram merging (HighlightSpec). */
  def highlightQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Highlighter.highlightColumn(
        Tables.table(spark, dir, "documents"), "doc_id", "text",
        "TokenBigram", Set("spark", "join"))
      .orderBy("doc_id")

  val highlightSql: String =
    """SELECT doc_id,
      |  regexp_replace(text, '\b(spark|join)\b', '<em>\0</em>', 'g') AS highlighted
      |FROM documents WHERE regexp_matches(text, '\b(spark|join)\b')
      |ORDER BY doc_id""".stripMargin

  /** highlight_html: same position-driven tagging with the reference's
    * exact default tags (`<span class="keyword">`,
    * lib/proc/proc_snippet.c:448) — byte-identical output a groonga
    * client would receive. */
  def highlightHtml(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Highlighter.highlightColumn(
        Tables.table(spark, dir, "documents"), "doc_id", "text",
        "TokenBigram", Set("window", "merge"),
        open = "<span class=\"keyword\">", close = "</span>")
      .orderBy("doc_id")

  val highlightHtmlSql: String =
    """SELECT doc_id,
      |  regexp_replace(text, '\b(window|merge)\b',
      |    '<span class="keyword">\0</span>', 'g') AS highlighted
      |FROM documents WHERE regexp_matches(text, '\b(window|merge)\b')
      |ORDER BY doc_id""".stripMargin

  /** snippet: context window around the FIRST matched token of a multi-term
    * query, token-offset-driven (lib/proc/proc_snippet.c / lib/snip.c). */
  def snippetQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Highlighter.snippetColumn(
        Tables.table(spark, dir, "documents"), "doc_id", "text",
        "TokenBigram", Set("vector", "spark"), before = 15, width = 40)
      .orderBy("doc_id")

  val snippetSql: String =
    """SELECT doc_id,
      |  substring(text, greatest(1,
      |    length(regexp_extract(text, '^(.*?)\b(vector|spark)\b', 1)) + 1 - 15), 40) AS snippet
      |FROM documents WHERE regexp_matches(text, '\b(vector|spark)\b')
      |ORDER BY doc_id""".stripMargin

  /** TokenDocumentVectorBM25 (lib/tokenizers.c:2316-2652): per-document
    * BM25-weighted term vectors straight from the index; restricted to
    * doc_id < 50 to keep the gate output bounded (weights still use
    * corpus-wide df/avgdl). */
  def docVectorsBm25(spark: SparkSession, dir: String): DataFrame =
    graft.ml.DocVectors.bm25(Tables.documentsIndex(spark, dir))
      .where(col("doc_id") < 50)
      .select(col("doc_id"), col("term"), round(col("w"), 4).as("w"))
      .orderBy("doc_id", "term")

  val docVectorsBm25Sql: String =
    """WITH tl AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), x -> x <> '') AS toks
      |  FROM documents),
      |toks AS (SELECT doc_id, unnest(toks) AS term FROM tl),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
      |SELECT tf.doc_id, tf.term,
      |  round(ln((n_docs - df + 0.5)/(df + 0.5) + 1.0) *
      |    tf * 3.0 / (tf + 2.0 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl)), 4) AS w
      |FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      |WHERE tf.doc_id < 50 ORDER BY tf.doc_id, tf.term""".stripMargin

  /** json_extract over a derived JSON column (reference function
    * json_extract; native get_json_object underneath) */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame = {
    val j = concat(lit("{\"n\":"), col("n_chars"), lit(",\"lang\":\""),
      col("lang"), lit("\"}"))
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"),
        get_json_object(j, "$.lang").as("jlang"),
        get_json_object(j, "$.n").cast("long").as("jn"))
      .orderBy("doc_id")
  }

  val jsonExtractSql: String =
    """WITH d AS (
      |  SELECT doc_id, '{"n":' || n_chars || ',"lang":"' || lang || '"}' AS j
      |  FROM documents)
      |SELECT doc_id,
      |  json_extract_string(j, '$.lang') AS jlang,
      |  CAST(json_extract(j, '$.n') AS BIGINT) AS jn
      |FROM d ORDER BY doc_id""".stripMargin

  /** table_list / column_list introspection (rows-only gate: the catalog
    * describes OUR artifacts, so there is no cross-engine oracle) */
  def tableListCmd(spark: SparkSession, dir: String): DataFrame =
    Introspect.tableList(Tables.documentsIndex(spark, dir)).orderBy("id")

  def columnListCmd(spark: SparkSession, dir: String): DataFrame =
    Introspect.columnList(Tables.documentsIndex(spark, dir), "postings").orderBy("id")

  /** `schema` command: one reference-shaped JSON body per object (driver
    * has no oracle for catalog introspection → rows-only, like table_list;
    * exact bodies are golden-matched in CommandFormatSpec) */
  def schemaCmd(spark: SparkSession, dir: String): DataFrame =
    Introspect.schemaCmd(Tables.documentsIndex(spark, dir))
      .orderBy("section", "name")

  /** `object_inspect` command over every index table + one column (driver
    * has no oracle for introspection → rows-only; body goldens in
    * SchemaCmdSpec) */
  def objectInspectCmd(spark: SparkSession, dir: String): DataFrame = {
    val idx = Tables.documentsIndex(spark, dir)
    (graft.index.SegmentWriter.Tables :+ "terms.term")
      .map(n => Introspect.objectInspect(idx, n))
      .reduce(_ union _)
      .orderBy("name")
  }

  /** snippet_html: centered tagged windows with the reference defaults'
    * shape (width-clamped start = match_start - (width - len)/2, span
    * keyword tags). The gate checks the FIRST window byte-identically;
    * multi-window/non-overlap behavior is HighlightSpec territory. */
  def snippetHtml(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Highlighter.snippetsHtmlColumn(
        Tables.table(spark, dir, "documents"), "doc_id", "text",
        "TokenBigram", Set("window"), width = 60, maxResults = 3)
      .select(col("doc_id"), col("snippets").getItem(0).as("snip"))
      .orderBy("doc_id")

  val snippetHtmlSql: String =
    """WITH m AS (
      |  SELECT doc_id, text,
      |    length(regexp_extract(text, '^(.*?)\bwindow\b', 1)) AS s
      |  FROM documents WHERE regexp_matches(text, '\bwindow\b')),
      |w AS (SELECT doc_id, text, greatest(0, s - (60 - 6) // 2) AS f FROM m)
      |SELECT doc_id,
      |  regexp_replace(substr(text, CAST(f + 1 AS INT), 60), '\bwindow\b',
      |    '<span class="keyword">\0</span>', 'g') AS snip
      |FROM w ORDER BY doc_id""".stripMargin

  /** output_type=msgpack: the select_cmd result packed into the reference's
    * msgpack envelope (api.Msgpack — pure Scala off the public spec, wired
    * like lib/msgpack.c + lib/output.c:293-1161) and decoded back by the
    * independent unpacker; the gate emits the DECODED rows, so the DuckDB
    * oracle checks every value that crossed the byte format. Byte-level
    * encoding goldens live in MsgpackSpec. The envelope is tiny by
    * construction (select_cmd carries offset/limit). */
  def msgpackCmd(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val res = selectCmd(spark, dir)
    val bytes = CommandFormat.msgpack(
      CommandFormat.bodyTree(res, nHits = res.count()))
    val env = Msgpack.unpack(bytes).asInstanceOf[Vector[Any]]
    require(env(0) == Vector(0L, 0.0, 0.0), "msgpack envelope header mismatch")
    val rs = env(1).asInstanceOf[Vector[Any]](0).asInstanceOf[Vector[Any]]
    require(rs(1) == Vector(Vector("doc_id", "Int64"), Vector("score", "Int64")),
      "msgpack column header mismatch")
    rs.drop(2)
      .map { r =>
        val v = r.asInstanceOf[Vector[Any]]
        (v(0).asInstanceOf[Long], v(1).asInstanceOf[Long])
      }
      .toDF("doc_id", "score")
  }

  /** output_type=apache-arrow: the select_cmd result as a REAL Arrow IPC
    * stream (api.ArrowFormat — the same public arrow-vector library the
    * reference links, already on Spark's classpath) decoded back by the
    * independent reader; the gate emits the DECODED rows plus the
    * GROONGA:n_hits metadata consistency check, so the DuckDB oracle
    * verifies every value that crossed the IPC bytes. */
  def arrowCmd(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val res = selectCmd(spark, dir)
    val bytes = ArrowFormat.arrow(res, nHits = res.count())
    val (nHits, names, rows) = ArrowFormat.arrowRead(bytes)
    require(names == Seq("doc_id", "score"), s"arrow column header: $names")
    require(nHits == rows.length.toLong, "n_hits metadata mismatch")
    rows.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
      .toDF("doc_id", "score")
  }

  /** HTTP transport gate: the select_cmd page served over the WIRE — GET
    * /d/select.msgpack against a loopback `GraftHttpServer` (the
    * reference's `/d/<command>.<type>` URL shape), envelope decoded by
    * the independent Msgpack unpacker; the gate emits the decoded rows,
    * so the DuckDB oracle checks every value that crossed HTTP + msgpack.
    * Full transport behavior (all output types, errors, POST load) lives
    * in HttpApiSpec. */
  def httpSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val idx = Tables.documentsIndex(spark, dir)
    val srv = new graft.server.GraftHttpServer(spark, Map("documents" -> idx)).start()
    try {
      val uri = java.net.URI.create(
        s"http://127.0.0.1:${srv.boundPort}/d/select.msgpack?table=documents" +
          "&query=spark&sort_keys=" +
          java.net.URLEncoder.encode("-_score, +_id", "UTF-8") +
          "&offset=2&limit=5")
      val resp = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(uri).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofByteArray())
      require(resp.statusCode() == 200, s"http status ${resp.statusCode()}")
      val env = Msgpack.unpack(resp.body()).asInstanceOf[Vector[Any]]
      require(env(0).asInstanceOf[Vector[Any]].head == 0L, "nonzero return code")
      val rs = env(1).asInstanceOf[Vector[Any]](0).asInstanceOf[Vector[Any]]
      rs.drop(2)
        .map { r =>
          val v = r.asInstanceOf[Vector[Any]]
          (v(0).asInstanceOf[Long], v(1).asInstanceOf[Long])
        }
        .toDF("doc_id", "score")
    } finally srv.stop()
  }

  /** QUERY_ALLOW_LEADING_NOT: `-spark` selects every record NOT matching
    * spark (all-records AND-NOT), score 0 — off by default (syntax error),
    * as in the reference. */
  def leadingNot(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Select.select(Tables.documentsIndex(spark, dir),
      graft.operators.Select.Request(query = "-spark", allowLeadingNot = true,
        sortKeys = Seq(("doc_id", true)), limit = -1))
      .select(col("doc_id"), col("score").cast("long").as("score"))

  val leadingNotSql: String =
    """WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS term
      |              FROM documents),
      |matched AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'spark')
      |SELECT d.doc_id, CAST(0 AS BIGINT) AS score FROM documents d
      |WHERE d.doc_id NOT IN (SELECT doc_id FROM matched)
      |ORDER BY d.doc_id""".stripMargin

  /** suggest-completion: df-ranked prefix candidates from the dictionary
    * (plugins/suggest/suggest.c completion over a reading table; df plays
    * the popularity column) */
  def suggestComplete(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Suggest.complete(Tables.documentsIndex(spark, dir), "s", k = 10)

  val suggestCompleteSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1)
      |SELECT term, CAST(df AS BIGINT) AS df FROM df
      |WHERE term LIKE 's%' ORDER BY df DESC, term LIMIT 10""".stripMargin

  /** suggest-completion with LEARNED query-log weighting: the reference
    * suggest dataset's item table ranks completions by submit frequency,
    * falling back to corpus df for unseen items. The learned table here is
    * synthesized deterministically (first token of every 7th doc, freq
    * from doc_id) so the oracle reproduces it exactly. */
  def suggestLearned(spark: SparkSession, dir: String): DataFrame = {
    val learned = Tables.table(spark, dir, "documents")
      .where(col("doc_id") % 7 === 0)
      .select(split(col("text"), " ").getItem(0).as("term"),
        (col("doc_id") % 5 + 1).cast("long").as("freq"))
    graft.operators.Suggest.completeLearned(
      Tables.documentsIndex(spark, dir), "s", learned, k = 10)
  }

  val suggestLearnedSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      |learned AS (
      |  SELECT string_split(text,' ')[1] AS term, sum(doc_id % 5 + 1) AS freq
      |  FROM documents WHERE doc_id % 7 = 0 AND string_split(text,' ')[1] LIKE 's%'
      |  GROUP BY 1)
      |SELECT df.term, CAST(COALESCE(l.freq, 0) AS BIGINT) AS freq,
      |  CAST(df.df AS BIGINT) AS df
      |FROM df LEFT JOIN learned l ON df.term = l.term
      |WHERE df.term LIKE 's%'
      |ORDER BY freq DESC, df.df DESC, df.term LIMIT 10""".stripMargin

  /** Deterministic synthetic QUERY-EVENT LOG derived from the documents
    * table (both engines compute it from the same parquet): session =
    * doc_id mod 40, event time in micros with a ±30 s wobble so some
    * intra-session gaps exceed the learner's 60 s horizon (the gap-break
    * path is exercised), item = the doc's first 1..3 tokens (multi-token
    * items exercise the freq2 tokenize path), every 4th event a submit. */
  private def learnEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .where(col("doc_id") < 2000)
      .select((col("doc_id") % 40).as("seq_id"),
        (col("doc_id") * 1000000L + (col("doc_id") % 3) * 30000000L).as("ts_us"),
        array_join(slice(split(col("text"), " "), lit(1),
          (lit(1) + col("doc_id") % 3).cast("int")), " ").as("item"),
        (col("doc_id") % 4 === 0).as("submit"))

  private val LearnEventsSql: String =
    """ev AS (
      |  SELECT doc_id % 40 AS seq_id,
      |    doc_id * 1000000 + (doc_id % 3) * 30000000 AS ts_us,
      |    array_to_string((string_split(text, ' '))[1:CAST(1 + doc_id % 3 AS INT)],
      |                    ' ') AS item,
      |    doc_id % 4 = 0 AS submit
      |  FROM documents WHERE doc_id < 2000)""".stripMargin

  /** learner ingestion, PAIR tables: raw events → Suggest.learn →
    * (pre, post, freq0, freq1, freq2); the oracle replays the window
    * arithmetic that re-expresses the reference's newest-first walk. */
  def suggestLearnPairs(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Suggest.learn(learnEvents(spark, dir))._2
      .orderBy("pre", "post")

  val suggestLearnPairsSql: String =
    s"""WITH $LearnEventsSql,
       |s1 AS (SELECT *, row_number() OVER (PARTITION BY seq_id ORDER BY ts_us)
       |         AS rn FROM ev),
       |s2 AS (SELECT *, max(CASE WHEN submit THEN rn END) OVER (
       |         PARTITION BY seq_id ORDER BY rn
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lsr
       |       FROM s1),
       |posts AS (SELECT seq_id, rn AS post_rn, ts_us AS post_ts,
       |            item AS post, coalesce(lsr, 0) AS from_rn
       |          FROM s2 WHERE submit),
       |priors AS (SELECT seq_id, rn AS pre_rn, ts_us AS pre_ts, item AS pre,
       |             submit AS pre_submit FROM s2),
       |cc AS (
       |  SELECT pre, post,
       |    sum(CASE WHEN NOT pre_submit THEN 1 ELSE 0 END) AS freq0,
       |    sum(CASE WHEN pre_submit THEN 1 ELSE 0 END) AS freq1
       |  FROM posts JOIN priors USING (seq_id)
       |  WHERE pre_rn < post_rn AND pre_rn >= from_rn
       |    AND post_ts - pre_ts < 60000000
       |  GROUP BY 1, 2),
       |tok AS (
       |  SELECT pre, post, count(*) AS freq2 FROM (
       |    SELECT ts_us, item AS post,
       |      unnest(list_distinct(string_split(item, ' '))) AS pre
       |    FROM ev WHERE submit)
       |  WHERE pre <> post GROUP BY 1, 2)
       |SELECT coalesce(c.pre, t.pre) AS pre, coalesce(c.post, t.post) AS post,
       |  CAST(coalesce(c.freq0, 0) AS BIGINT) AS freq0,
       |  CAST(coalesce(c.freq1, 0) AS BIGINT) AS freq1,
       |  CAST(coalesce(t.freq2, 0) AS BIGINT) AS freq2
       |FROM cc c FULL JOIN tok t ON c.pre = t.pre AND c.post = t.post
       |ORDER BY pre, post""".stripMargin

  /** learner ingestion feeding the learned-completion ranking: the item
    * table's submit counts (freq2) become completeLearned's frequency —
    * the reference flow (learner populates item_<dataset>.freq2; the
    * suggest command ranks completions by it) end-to-end from raw events. */
  def suggestLearn(spark: SparkSession, dir: String): DataFrame = {
    val (items, _) = graft.operators.Suggest.learn(learnEvents(spark, dir))
    val learned = items.where(col("freq2") > 0)
      .select(col("item").as("term"), col("freq2").as("freq"))
    graft.operators.Suggest.completeLearned(
      Tables.documentsIndex(spark, dir), "s", learned, k = 10)
  }

  val suggestLearnSql: String =
    s"""WITH $LearnEventsSql,
       |toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
       |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
       |learned AS (
       |  SELECT item AS term,
       |    sum(CASE WHEN submit THEN 1 ELSE 0 END) AS freq
       |  FROM ev GROUP BY 1
       |  HAVING sum(CASE WHEN submit THEN 1 ELSE 0 END) > 0)
       |SELECT df.term, CAST(COALESCE(l.freq, 0) AS BIGINT) AS freq,
       |  CAST(df.df AS BIGINT) AS df
       |FROM df LEFT JOIN learned l ON df.term = l.term
       |WHERE df.term LIKE 's%'
       |ORDER BY freq DESC, df.df DESC, df.term LIMIT 10""".stripMargin

  /** STREAMING learner ingestion: the same derived event log landed as
    * parquet, streamed back through `Suggest.learnStream` (stateful
    * flatMapGroupsWithState session tails emitting mergeable deltas), the
    * delta stream folded by `mergeDeltas` — the pair table must equal the
    * BATCH learner's, so the gate replays the `suggest_learn_pairs` oracle
    * verbatim. Multi-batch/equivalence coverage lives in SuggestStreamSpec. */
  def suggestLearnStream(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^a-zA-Z0-9.]", "_")
    val evDir = s"/tmp/graft-cache/$key/learn-events"
    val fs = graft.index.SegmentCatalog.fileSystem(spark, evDir)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$evDir/_SUCCESS")))
      learnEvents(spark, dir).coalesce(1).write.mode("overwrite").parquet(evDir)
    val schema = spark.read.parquet(evDir).schema
    val stream = spark.readStream.schema(schema).parquet(evDir)
    val ck = java.nio.file.Files.createTempDirectory("graft-slck").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-slout").toString
    val q = graft.operators.Suggest.learnStream(stream).toDF()
      .writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .format("parquet").option("path", outDir).start()
    q.awaitTermination()
    val (_, pairs) = graft.operators.Suggest.mergeDeltas(spark.read.parquet(outDir))
    pairs.orderBy("pre", "post")
  }

  /** suggest-cooccurrence: terms sharing docs with the query term, by
    * number of co-occurring docs (bucket-pruned postings decode) */
  def suggestCooccur(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Suggest.suggest(Tables.documentsIndex(spark, dir), "spark", k = 10)

  val suggestCooccurSql: String =
    """WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS term
      |              FROM documents),
      |matched AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'spark')
      |SELECT t.term AS co_term, CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_docs
      |FROM toks t JOIN matched m ON t.doc_id = m.doc_id
      |WHERE t.term <> 'spark'
      |GROUP BY 1 ORDER BY n_docs DESC, co_term LIMIT 10""".stripMargin

  /** suggest-correction: edit-distance candidates ranked (dist, df) */
  def suggestCorrect(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Suggest.correct(Tables.documentsIndex(spark, dir), "sparkk",
      maxDistance = 2, k = 5)

  val suggestCorrectSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1)
      |SELECT term, CAST(levenshtein(term, 'sparkk') AS INT) AS dist,
      |  CAST(df AS BIGINT) AS df
      |FROM df
      |WHERE len(term) BETWEEN 4 AND 8
      |  AND levenshtein(term, 'sparkk') <= 2 AND term <> 'sparkk'
      |ORDER BY dist, df DESC, term LIMIT 5""".stripMargin

  /** the Catalyst-rule SQL surface: WHERE graft_match(...) over a view is
    * rewritten into the index semi-join by GraftMatchRule (plans/), then
    * joined back for scoring-free row selection */
  def sqlMatch(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    val idx = Tables.documentsIndex(spark, dir) // ensure the index exists
    Tables.table(spark, dir, "documents").createOrReplaceTempView("documents_v")
    spark.sql(
      s"""SELECT doc_id, n_chars FROM documents_v
         |WHERE graft_match('${idx.path}', 'spark +join') AND n_chars < 400
         |ORDER BY doc_id""".stripMargin)
  }

  val sqlMatchSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
      |m AS (SELECT doc_id FROM toks WHERE term IN ('spark','join')
      |      GROUP BY doc_id HAVING count(DISTINCT term) = 2)
      |SELECT d.doc_id, d.n_chars FROM documents d JOIN m USING (doc_id)
      |WHERE d.n_chars < 400 ORDER BY d.doc_id""".stripMargin

  /** query_parallel_or(match_columns, q1, q2, ...)
    * (/root/reference/lib/proc/proc_query.cpp:1170-1240): several query
    * strings OR'd in one call. The legs fold into ONE OR tree and one
    * kernel pass — the reference's thread-pool parallelism is Spark task
    * parallelism here (see Select.queryParallelOr). */
  def queryParallelOr(spark: SparkSession, dir: String): DataFrame = {
    val idx = Tables.documentsIndex(spark, dir)
    graft.operators.Select.queryParallelOr(
        Tables.table(spark, dir, "documents"), idx,
        Seq("spark +join", "filter +merge"))
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id")
  }

  val queryParallelOrSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
      |m1 AS (SELECT doc_id FROM toks WHERE term IN ('spark','join')
      |       GROUP BY doc_id HAVING count(DISTINCT term) = 2),
      |m2 AS (SELECT doc_id FROM toks WHERE term IN ('filter','merge')
      |       GROUP BY doc_id HAVING count(DISTINCT term) = 2),
      |m AS (SELECT doc_id FROM m1 UNION SELECT doc_id FROM m2)
      |SELECT d.doc_id, d.n_chars FROM documents d JOIN m USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** TERM_EXTRACT: dictionary terms found as substrings of a target string
    * (lib/grn_ii.h:234 GRN_OP_TERM_EXTRACT; tag-extraction use case). */
  def termExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsIndex(spark, dir).termExtract("sparkjoinwindowdup")

  val termExtractSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
      |df AS (SELECT DISTINCT term FROM toks)
      |SELECT CAST(i - 1 AS INT) AS pos, term
      |FROM df, range(1, 19) r(i)
      |WHERE substr('sparkjoinwindowdup', CAST(i AS INT), len(term)) = term
      |ORDER BY pos, term""".stripMargin

  /** html_untag (reference plugin function html_untag) over synthetic
    * markup wrapped around the corpus text */
  def htmlUntag(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.GraftFunctions.html_untag(
          concat(lit("<p class=\"d\">"), col("text"), lit("</p><br>"))).as("plain"))
      .orderBy("doc_id")

  val htmlUntagSql: String =
    """SELECT doc_id,
      |  regexp_replace('<p class="d">' || text || '</p><br>', '<[^>]*>', '', 'g') AS plain
      |FROM documents ORDER BY doc_id""".stripMargin

  /** query_expand (lib/proc/proc_query.cpp:230): synonym-expanded query —
    * 'spark' rewrites to (spark OR flink) before evaluation */
  def queryExpand(spark: SparkSession, dir: String): DataFrame = {
    val idx = Tables.documentsIndex(spark, dir)
    val node = graft.operators.Select.expandQuery(
      graft.query.QueryParser.parse("spark +window"),
      Map("spark" -> Seq("spark", "stream")))
    graft.operators.Select.eval(idx, node, graft.query.ScoreMode.Tf)
      .select(col("doc_id"), col("score").cast("long").as("score"))
      .orderBy("doc_id")
  }

  val queryExpandSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |syn AS (SELECT doc_id, sum(tf) AS s FROM tf
      |        WHERE term IN ('spark','stream') GROUP BY 1),
      |w AS (SELECT doc_id, tf AS s FROM tf WHERE term = 'window')
      |SELECT syn.doc_id, CAST(syn.s + w.s AS BIGINT) AS score
      |FROM syn JOIN w USING (doc_id)
      |ORDER BY syn.doc_id""".stripMargin

  /** in_records(table, ...) — membership with per-column comparison modes
    * (lib/proc/proc_in_records.c). */
  def inRecords(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.table(spark, dir, "orders")
    val cust = Tables.table(spark, dir, "customer")
    orders.join(cust,
        orders("o_custkey") === cust("c_custkey") &&
          cust("c_acctbal") > orders("o_totalprice") / 10.0, "left_semi")
      .select(col("o_orderkey")).orderBy("o_orderkey")
  }

  val inRecordsSql: String =
    """SELECT o_orderkey FROM orders
      |WHERE EXISTS (SELECT 1 FROM customer
      |  WHERE c_custkey = o_custkey AND c_acctbal > o_totalprice / 10.0)
      |ORDER BY o_orderkey""".stripMargin

  /** logical_count over time shards (plugins/sharding/logical_count.rb):
    * partition-prunable timestamp range count. */
  def logicalCount(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "events")
      .where(col("ts") >= lit("2024-01-01").cast("timestamp") &&
        col("ts") < lit("2024-07-01").cast("timestamp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type")

  val logicalCountSql: String =
    """SELECT event_type, count(*) AS n FROM events
      |WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-07-01'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** logical_range_filter (plugins/sharding/logical_range_filter.rb):
    * time-shard range read in ts order with offset/limit. The range
    * predicate prunes shards (partition/row-group pruning on a
    * date-partitioned lake) and the ordered limit is a partial top-k
    * (TakeOrderedAndProject), the analogue of the plugin's early shard
    * termination once enough records are emitted. */
  def logicalRangeFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "events")
      .where(col("ts") >= lit("2024-01-10").cast("timestamp") &&
        col("ts") < lit("2024-01-20").cast("timestamp"))
      .select(col("event_id"), col("event_type"),
        // ts is TIMESTAMP_NTZ; epoch seconds via session-UTC timestamp
        col("ts").cast("timestamp").cast("long").as("ts_s"))
      .orderBy(col("ts_s"), col("event_id"))
      .offset(5).limit(20)

  val logicalRangeFilterSql: String =
    """SELECT event_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
      |ORDER BY ts_s, event_id LIMIT 20 OFFSET 5""".stripMargin

  /** --drilldowns[label]: labeled drilldowns with per-label sort_keys and
    * limit (lib/proc/proc_select.cpp:483-505, default output
    * _key,_nsubrecs). */
  def drilldownLabeled(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.table(spark, dir, "lineitem")
    val byFlag = li.groupBy(col("l_returnflag").as("key"))
      .agg(count(lit(1)).as("nsubrecs"))
      .orderBy(desc("nsubrecs"), asc("key")).limit(2)
      .withColumn("label", lit("flag"))
    val byStatus = li.groupBy(col("l_linestatus").as("key"))
      .agg(count(lit(1)).as("nsubrecs"))
      .orderBy(desc("nsubrecs"), asc("key")).limit(1)
      .withColumn("label", lit("status"))
    byFlag.unionByName(byStatus)
      .select(col("label"), col("key"), col("nsubrecs"))
      .orderBy("label", "key")
  }

  val drilldownLabeledSql: String =
    """SELECT * FROM (
      |  (SELECT 'flag' AS label, l_returnflag AS key, count(*) AS nsubrecs
      |   FROM lineitem GROUP BY 2 ORDER BY nsubrecs DESC, key LIMIT 2)
      |  UNION ALL
      |  (SELECT 'status' AS label, l_linestatus AS key, count(*) AS nsubrecs
      |   FROM lineitem GROUP BY 2 ORDER BY nsubrecs DESC, key LIMIT 1))
      |ORDER BY label, key""".stripMargin

  /** drilldowns[].max_n_target_records (lib/proc/proc_select.cpp sampling):
    * the drilldown aggregates only the FIRST N records of the target
    * result (id order) — an exact-over-a-sample plan that keeps facet
    * latency bounded on huge results. Plus drilldown_filter: a predicate
    * over the drilldown rows themselves (`_nsubrecs >= X`, HAVING). */
  def drilldownSampled(spark: SparkSession, dir: String): DataFrame = {
    val target = Tables.table(spark, dir, "lineitem")
      .orderBy(col("l_orderkey"), col("l_linenumber")).limit(2000)
    target.groupBy(col("l_returnflag").as("key"))
      .agg(count(lit(1)).as("nsubrecs"))
      .where(col("nsubrecs") >= 100)
      .orderBy(desc("nsubrecs"), asc("key"))
  }

  val drilldownSampledSql: String =
    """WITH sample AS (
      |  SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 2000)
      |SELECT l_returnflag AS key, count(*) AS nsubrecs FROM sample
      |GROUP BY 1 HAVING count(*) >= 100
      |ORDER BY nsubrecs DESC, key""".stripMargin

  /** index_column_diff: full index↔source consistency audit — the index's
    * decoded postings diffed against a fresh re-tokenization of the source
    * (proc_index_column.c). All-zero diff counts prove the committed index
    * byte-equals its source; n_expected/n_actual are cross-checked against
    * the oracle's INDEPENDENT tokenization, so a tokenizer drift or a
    * decode bug fails the gate. */
  def indexDiff(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsIndex(spark, dir)
      .diffAgainst(Tables.table(spark, dir, "documents"), "doc_id", "text")

  val indexDiffSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2)
      |SELECT CAST(count(*) AS BIGINT) AS n_expected,
      |  CAST(count(*) AS BIGINT) AS n_actual,
      |  CAST(0 AS BIGINT) AS n_missing, CAST(0 AS BIGINT) AS n_remains,
      |  CAST(0 AS BIGINT) AS n_tf_mismatch
      |FROM tf""".stripMargin

  /** index_column_df_ratio-style meta query over the term dictionary
    * (plugins/functions/index_column.c) — exposes the terms segment. */
  def termDfRatio(spark: SparkSession, dir: String): DataFrame = {
    val idx = Tables.documentsIndex(spark, dir)
    val n = idx.meta.nDocs
    idx.terms.select(col("term"), col("df"), col("total_tf"),
        (floor(col("df") * 10000.0 / n) / 10000.0).as("df_ratio"))
      .orderBy("term")
  }

  val termDfRatioSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
      |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks)
      |SELECT term, count(DISTINCT doc_id) AS df, count(*) AS total_tf,
      |  floor(count(DISTINCT doc_id) * 10000.0 / any_value(n_docs)) / 10000.0 AS df_ratio
      |FROM toks CROSS JOIN n
      |GROUP BY term ORDER BY term""".stripMargin

  /** deterministic synthetic points from the customer table */
  private def geoPoints(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "customer")
      .select(col("c_custkey"),
        ((abs(col("c_acctbal")) % 120.0) - 60.0).as("lat"),
        ((col("c_custkey") % 360).cast("double") - 180.0).as("lon"))

  /** geo_distance, spherical (haversine) variant — lib/geo.c:2268; output
    * floored to whole meters (trig libm ULPs must not flip the hash) */
  def geoDistance(spark: SparkSession, dir: String): DataFrame =
    geoPoints(spark, dir)
      .select(col("c_custkey"),
        floor(graft.functions.Geo.distanceSphere(
          col("lat"), col("lon"), lit(35.0), lit(139.0))).cast("long").as("dist_m"))
      .orderBy("c_custkey")

  val geoDistanceSql: String =
    """WITH pts AS (
      |  SELECT c_custkey, (abs(c_acctbal) % 120.0) - 60.0 AS lat,
      |    CAST(c_custkey % 360 AS DOUBLE) - 180.0 AS lon
      |  FROM customer)
      |SELECT c_custkey,
      |  CAST(floor(2.0 * 6371009.0 * asin(sqrt(
      |    pow(sin(radians(35.0 - lat) / 2), 2) +
      |    cos(radians(lat)) * cos(radians(35.0)) *
      |    pow(sin(radians(139.0 - lon) / 2), 2)))) AS BIGINT) AS dist_m
      |FROM pts ORDER BY c_custkey""".stripMargin

  /** geo_distance2 (sphere on GRN_GEO_RADIUS) + geo_distance3 (WGS84
    * ellipsoid) — the deprecated-but-supported approximation procs
    * (lib/proc.c:3141,3159; formulas lib/geo.c:2904-2940). */
  def geoDistance23(spark: SparkSession, dir: String): DataFrame =
    geoPoints(spark, dir)
      .select(col("c_custkey"),
        floor(graft.functions.Geo.distance2(
          col("lat"), col("lon"), lit(35.0), lit(139.0))).cast("long").as("dist2_m"),
        floor(graft.functions.Geo.distance3(
          col("lat"), col("lon"), lit(35.0), lit(139.0))).cast("long").as("dist3_m"))
      .orderBy("c_custkey")

  val geoDistance23Sql: String =
    """WITH pts AS (
      |  SELECT c_custkey, (abs(c_acctbal) % 120.0) - 60.0 AS lat,
      |    CAST(c_custkey % 360 AS DOUBLE) - 180.0 AS lon
      |  FROM customer),
      |e AS (
      |  SELECT c_custkey, lat, lon,
      |    (radians(lat) + radians(35.0)) * 0.5 AS p
      |  FROM pts),
      |e2 AS (
      |  SELECT c_custkey, lat, lon, p,
      |    1.0 - 0.006694 * sin(p) * sin(p) AS q
      |  FROM e)
      |SELECT c_custkey,
      |  CAST(floor(2.0 * 6357303.0 * asin(sqrt(
      |    pow(sin(abs(radians(35.0 - lat)) * 0.5), 2) +
      |    cos(radians(lat)) * cos(radians(35.0)) *
      |    pow(sin(abs(radians(139.0 - lon)) * 0.5), 2)))) AS BIGINT) AS dist2_m,
      |  CAST(floor(sqrt(
      |    pow((6378137.0 / sqrt(q)) * cos(p) * abs(radians(lon - 139.0)), 2) +
      |    pow((6335439.0 / (q * sqrt(q))) * abs(radians(lat - 35.0)), 2)
      |  )) AS BIGINT) AS dist3_m
      |FROM e2 ORDER BY c_custkey""".stripMargin

  /** grn_geo_in_circle (lib/geo.c:999) + grn_geo_in_rectangle (:1223) */
  def geoIn(spark: SparkSession, dir: String): DataFrame =
    geoPoints(spark, dir)
      .select(col("c_custkey"),
        graft.functions.Geo.inCircle(col("lat"), col("lon"),
          lit(35.0), lit(139.0), lit(3000000.0)).as("in_circle"),
        graft.functions.Geo.inRectangle(col("lat"), col("lon"),
          lit(50.0), lit(100.0), lit(0.0), lit(160.0)).as("in_rect"))
      .orderBy("c_custkey")

  val geoInSql: String =
    """WITH pts AS (
      |  SELECT c_custkey, (abs(c_acctbal) % 120.0) - 60.0 AS lat,
      |    CAST(c_custkey % 360 AS DOUBLE) - 180.0 AS lon
      |  FROM customer)
      |SELECT c_custkey,
      |  2.0 * 6371009.0 * asin(sqrt(
      |    pow(sin(radians(35.0 - lat) / 2), 2) +
      |    cos(radians(lat)) * cos(radians(35.0)) *
      |    pow(sin(radians(139.0 - lon) / 2), 2))) <= 3000000.0 AS in_circle,
      |  (lat <= 50.0 AND lat >= 0.0 AND lon >= 100.0 AND lon <= 160.0) AS in_rect
      |FROM pts ORDER BY c_custkey""".stripMargin

  private val geoTableWritten = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** in_circle/in_rectangle through the zcell GEO INDEX (pat-trie geohash
    * scan analogue, lib/geo.c:999): points persisted sorted by Z-order cell,
    * query shapes become pushed-down cell ranges + exact verify — same rows
    * as the full-scan oracle, but the scan prunes row groups at scale. */
  def geoInIndexed(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GeoIndex
    val key = dir.replaceAll("[^a-zA-Z0-9.]", "_")
    val path = geoTableWritten.computeIfAbsent(key, { _ =>
      val p = s"/tmp/graft-cache/$key/geo-pts"
      GeoIndex.writeGeoTable(geoPoints(spark, dir), "lat", "lon", p, numFiles = 8)
      p
    })
    val stored = spark.read.parquet(path)
    val circ = GeoIndex.inCircleIndexed(stored, col("lat"), col("lon"), col("zcell"),
        35.0, 139.0, 3000000.0)
      .select(col("c_custkey"), lit("circle").as("shape"))
    val rect = GeoIndex.inRectangleIndexed(stored, col("lat"), col("lon"), col("zcell"),
        50.0, 100.0, 0.0, 160.0)
      .select(col("c_custkey"), lit("rect").as("shape"))
    circ.unionByName(rect).orderBy("shape", "c_custkey")
  }

  val geoInIndexedSql: String =
    """WITH pts AS (
      |  SELECT c_custkey, (abs(c_acctbal) % 120.0) - 60.0 AS lat,
      |    CAST(c_custkey % 360 AS DOUBLE) - 180.0 AS lon
      |  FROM customer)
      |SELECT c_custkey, 'circle' AS shape FROM pts
      |WHERE 2.0 * 6371009.0 * asin(sqrt(
      |    pow(sin(radians(35.0 - lat) / 2), 2) +
      |    cos(radians(lat)) * cos(radians(35.0)) *
      |    pow(sin(radians(139.0 - lon) / 2), 2))) <= 3000000.0
      |UNION ALL
      |SELECT c_custkey, 'rect' AS shape FROM pts
      |WHERE lat <= 50.0 AND lat >= 0.0 AND lon >= 100.0 AND lon <= 160.0
      |ORDER BY shape, c_custkey""".stripMargin

  /** query-syntax evaluation: `spark +join -dup` (default-AND, AND-NOT)
    * through parser + result-set ops (SURVEY §2.2 --query / §2.8). */
  def querySyntax(spark: SparkSession, dir: String): DataFrame = {
    val idx = Tables.documentsIndex(spark, dir)
    graft.operators.Select.eval(idx,
        graft.query.QueryParser.parse("spark +join -dup"), graft.query.ScoreMode.Tf)
      .select(col("doc_id"), col("score").cast("long").as("score"))
      .orderBy("doc_id")
  }

  val querySyntaxSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2)
      |SELECT a.doc_id, CAST(a.tf + b.tf AS BIGINT) AS score
      |FROM (SELECT doc_id, tf FROM tf WHERE term = 'spark') a
      |JOIN (SELECT doc_id, tf FROM tf WHERE term = 'join') b USING (doc_id)
      |WHERE a.doc_id NOT IN (SELECT doc_id FROM tf WHERE term = 'dup')
      |ORDER BY a.doc_id""".stripMargin

  /** query syntax with OR + phrase: `"batch batch" OR dup` — scores
    * accumulate across OR legs (OR result-set merge). */
  def queryOrPhrase(spark: SparkSession, dir: String): DataFrame = {
    val idx = Tables.documentsIndex(spark, dir)
    graft.operators.Select.eval(idx,
        graft.query.QueryParser.parse("\"batch batch\" OR dup"), graft.query.ScoreMode.Tf)
      .select(col("doc_id"), col("score").cast("long").as("score"))
      .orderBy("doc_id")
  }

  val queryOrPhraseSql: String =
    """WITH tl AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |ptoks AS (
      |  SELECT doc_id, tp[1] AS term, CAST(tp[2] AS INT) AS pos
      |  FROM (SELECT doc_id, unnest(list_zip(toks, range(1, len(toks)+1))) AS tp FROM tl)),
      |ph AS (SELECT a.doc_id, count(*) AS s FROM ptoks a
      |       JOIN ptoks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      |       WHERE a.term = 'batch' AND b.term = 'batch' GROUP BY 1),
      |d AS (SELECT doc_id, count(*) AS s FROM ptoks WHERE term = 'dup' GROUP BY 1)
      |SELECT coalesce(ph.doc_id, d.doc_id) AS doc_id,
      |  CAST(coalesce(ph.s, 0) + coalesce(d.s, 0) AS BIGINT) AS score
      |FROM ph FULL OUTER JOIN d ON ph.doc_id = d.doc_id
      |ORDER BY doc_id""".stripMargin

  /** full select pipeline: query + sort keys + offset/limit
    * (grn_table_sort partial top-k + pagination, SURVEY §2.7). */
  def selectCmd(spark: SparkSession, dir: String): DataFrame = {
    val idx = Tables.documentsIndex(spark, dir)
    graft.operators.Select.select(idx, graft.operators.Select.Request(
        query = "spark", score = graft.query.ScoreMode.Tf,
        // reference sort-key string syntax parsed, not hand-built
        sortKeys = graft.operators.Select.parseSortKeys("-_score, +_id"),
        offset = 2, limit = 5))
      .select(col("doc_id"), col("score").cast("long").as("score"))
  }

  val selectCmdSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS score FROM toks
      |       WHERE term = 'spark' GROUP BY 1)
      |SELECT doc_id, score FROM tf
      |ORDER BY score DESC, doc_id LIMIT 5 OFFSET 2""".stripMargin

  /** `normalize` command equivalent (lib/proc.c proc_normalize) over the
    * NormalizerNFKC option family: documents text (ASCII, passes through
    * NFKC+fold as identity = lowercasing of the upper()ed input) plus a
    * deterministic mixed-script suffix per row exercising unify_kana /
    * unify_kana_case / unify_hyphen / unify_prolonged_sound_mark. The
    * suffix expectations are anchored by NormalizerGoldenSpec's 305
    * reference-transcribed goldens. */
  def normalizeCmd(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val suffixes = Array(
      " ヴァイオリン・テスト０１",
      " データ—ベース検索エンジン",
      " ＡＢＣ　ｶﾞｷﾞｭｳ")
    val optSpec = "unify_kana=true,unify_kana_case=true,unify_hyphen=true," +
      "unify_prolonged_sound_mark=true"
    Tables.table(spark, dir, "documents")
      .where(col("doc_id") < 50)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val opts = graft.analyzer.NfkcOptions.parse(optSpec)
        it.map { case (id, text) =>
          val in = text.toUpperCase(java.util.Locale.ROOT) + suffixes((id % 3).toInt)
          (id, graft.analyzer.NfkcNormalizer.normalize(in, opts))
        }
      }
      .toDF("doc_id", "normalized")
      .orderBy("doc_id")
  }

  val normalizeCmdSql: String =
    """SELECT doc_id, lower(text) || CASE CAST(doc_id % 3 AS INT)
      |  WHEN 0 THEN ' ゔあいおりん・てすと01'
      |  WHEN 1 THEN ' でーたーべーす検索えんじん'
      |  ELSE ' abc がぎゆう' END AS normalized
      |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin

  /** highlight_full (reference proc_highlight.c:271-411): per-keyword tag
    * sets, normalized-space substring matching (full-width ＭｙＳＱＬ tags
    * via keyword "MySQL"), html escaping of untagged text. The suffix
    * exercises width/case unification + escaping; the body exercises
    * substring tagging of a corpus term. */
  def highlightFullQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val kws = Seq(
      ("window", "<span class=\"k1\">", "</span>"),
      ("MySQL", "<span class=\"k2\">", "</span>"))
    val docs = Tables.table(spark, dir, "documents")
      .where(col("doc_id") < 400)
      .withColumn("text2",
        concat(col("text"), lit(" ＭｙＳＱＬ <raw> Window")))
    graft.operators.Highlighter.highlightFullColumn(
        docs, "doc_id", "text2", kws, htmlEscape = true)
      .orderBy("doc_id")
  }

  val highlightFullSql: String =
    """SELECT doc_id,
      |  regexp_replace(text, 'window', '<span class="k1">\0</span>', 'g') ||
      |  ' <span class="k2">ＭｙＳＱＬ</span> &lt;raw&gt; ' ||
      |  '<span class="k1">Window</span>' AS highlighted
      |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin

  /** NormalizerHTML (reference lib/normalizer.c:6181+): tags stripped +
    * character references expanded (named WHATWG table, numeric with the
    * windows-1252 remap). Each doc's text is wrapped in a deterministic
    * HTML shell exercising tags, named/hex/decimal refs, an invalid ref
    * (kept literal) and an unterminated ref at EOF (dropped); entity
    * expectations are anchored by the reference-suite goldens in
    * HtmlNormalizerSpec. */
  def normalizeHtml(spark: SparkSession, dir: String): DataFrame = {
    val wrapped = Tables.table(spark, dir, "documents")
      .where(col("doc_id") < 500)
      .withColumn("html_in", concat(lit("<p class=\"x\">"), col("text"),
        lit("</p> &amp; &lt;tag&gt; &#x3042;&#65; &nbsp;&euro; &bogus; x &untermin")))
    graft.analyzer.HtmlNormalizer.normalizeColumn(wrapped, "doc_id", "html_in")
      .orderBy("doc_id")
  }

  val normalizeHtmlSql: String =
    """SELECT doc_id,
      |  text || ' & <tag> あA ' || chr(160) || '€ &bogus; x ' AS normalized
      |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin

  /** `dump` command-script text form (/root/reference/lib/proc/proc_dump.c;
    * goldens under test/command/suite/dump/): schema commands + header-row
    * load blocks, keyed tables sorted by _key. The gate dumps the nation
    * table; index column lines are DumpSpec territory. */
  def dumpCmd(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.api.Dump.commandScript(
        Tables.table(spark, dir, "nation").select("n_nationkey", "n_name", "n_regionkey"),
        "Nation", keyCol = Some("n_nationkey"))
      .zipWithIndex.map { case (l, i) => (i + 1, l) }.toSeq
      .toDF("line_no", "line")
  }

  val dumpCmdSql: String =
    """WITH rows AS (
      |  SELECT 7 + row_number() OVER (ORDER BY n_nationkey) AS line_no,
      |    '[' || n_nationkey || ',' || to_json(n_name) || ',' || n_regionkey || ']' ||
      |    CASE WHEN row_number() OVER (ORDER BY n_nationkey) =
      |      count(*) OVER () THEN '' ELSE ',' END AS line
      |  FROM nation),
      |head AS (SELECT * FROM (VALUES
      |  (1, 'table_create Nation TABLE_HASH_KEY Int32'),
      |  (2, 'column_create Nation n_name COLUMN_SCALAR ShortText'),
      |  (3, 'column_create Nation n_regionkey COLUMN_SCALAR Int32'),
      |  (4, ''),
      |  (5, 'load --table Nation'),
      |  (6, '['),
      |  (7, '["_key","n_name","n_regionkey"],')) t(line_no, line))
      |SELECT CAST(line_no AS INT) AS line_no, line FROM head
      |UNION ALL SELECT CAST(line_no AS INT), line FROM rows
      |UNION ALL SELECT CAST((SELECT count(*) + 8 FROM nation) AS INT), ']'
      |ORDER BY line_no""".stripMargin

  /** NormalizerTable (/root/reference/lib/normalizer.c:5833-5959,:6470):
    * user-supplied substitution rules applied by greedy leftmost-longest
    * scan. Rule keys overlap ('spark' vs 'spar' vs 'scan' vs 'sc') to
    * exercise longest-match precedence; replacement values use an alphabet
    * disjoint from the corpus so the DuckDB replace-chain mirror (ordered
    * longest-first) is equivalent to the scan. */
  def normalizeTable(spark: SparkSession, dir: String): DataFrame = {
    val rules = Seq("spark" -> "[#1]", "spar" -> "[#2]",
      "scan" -> "[#3]", "sc" -> "[#4]")
    graft.analyzer.TableNormalizer.normalizeColumn(
        Tables.table(spark, dir, "documents").where(col("doc_id") < 400),
        "doc_id", "text", rules)
      .orderBy("doc_id")
  }

  val normalizeTableSql: String =
    """SELECT doc_id,
      |  replace(replace(replace(replace(text,
      |    'spark', '[#1]'), 'spar', '[#2]'), 'scan', '[#3]'), 'sc', '[#4]')
      |    AS normalized
      |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin

  /** `--filter` script string (grn_ecmascript.lemon subset) compiled to a
    * Catalyst Column: between(), regexp/prefix match ops, &&/||/&!,
    * arithmetic — evaluated standalone over the source table. */
  def selectFilterScript(spark: SparkSession, dir: String): DataFrame = {
    val script = """between(n_chars, 100, "include", 200, "exclude") &&
      lang @~ "^(en|de)$" || source @^ "src1" && n_chars % 2 == 0 &! lang == "zh""""
    graft.operators.Select.select(Tables.documentsIndex(spark, dir),
      graft.operators.Select.Request(query = "", filterScript = Some(script),
        source = Some(Tables.table(spark, dir, "documents")),
        sortKeys = Seq(("doc_id", true)), limit = -1))
      .select(col("doc_id"), col("score").cast("long").as("score"))
  }

  val selectFilterScriptSql: String =
    """SELECT doc_id, CAST(1 AS BIGINT) AS score FROM documents
      |WHERE (n_chars >= 100 AND n_chars < 200 AND regexp_matches(lang, '^(en|de)$'))
      |   OR (source LIKE 'src1%' AND n_chars % 2 = 0 AND NOT lang = 'zh')
      |ORDER BY doc_id""".stripMargin

  /** string_* named procs (/root/reference/plugins/functions/string.c) with
    * groonga's character-unit semantics: length, substring (incl. the
    * negative-from modulo wrap, to-end length, out-of-range default),
    * Rails-style truncate (incl. the omission-longer-than-length edge),
    * numeric + regexp slice (named group resolved to its index), and
    * tokenize-to-vector. The corpus slice is all-ASCII (checked against
    * the generator), so the DuckDB mirror can use lower()/split. */
  def stringProcs(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StringProcs._
    Tables.table(spark, dir, "documents")
      .where(col("doc_id") < 300)
      .select(col("doc_id"),
        stringLength(col("text")).as("len_chars"),
        stringSubstring(col("text"), lit(5), lit(12)).as("sub_a"),
        stringSubstring(col("text"), lit(-7), lit(-1)).as("sub_neg"),
        stringSubstring(col("text"), lit(100000), lit(5), lit("(none)")).as("sub_oob"),
        stringTruncate(col("text"), lit(20)).as("trunc"),
        stringTruncate(col("text"), lit(2)).as("trunc_tiny"),
        stringTruncate(col("text"), lit(24), lit("…")).as("trunc_om"),
        stringSlice(col("text"), lit(3)).as("slice_one"),
        stringSliceRegexp(col("text"), "(?<w1>[a-z]+) (?<w2>[a-z]+)", "w2",
          lit("-")).as("slice_re"),
        array_join(stringTokenize(col("text"), "TokenBigram"), "|").as("toks"))
      .orderBy("doc_id")
  }

  val stringProcsSql: String =
    """SELECT doc_id,
      |  CAST(length(text) AS INT) AS len_chars,
      |  substring(text, 6, 12) AS sub_a,
      |  CASE WHEN length(text) = 0 THEN '' ELSE
      |    substring(text, ((-7 % greatest(length(text),1)) + greatest(length(text),1))
      |      % greatest(length(text),1) + 1) END AS sub_neg,
      |  CASE WHEN length(text) > 100000 THEN substring(text, 100001, 5)
      |       ELSE '(none)' END AS sub_oob,
      |  CASE WHEN length(text) <= 20 THEN text
      |       ELSE substring(text, 1, 17) || '...' END AS trunc,
      |  CASE WHEN length(text) <= 2 THEN text ELSE '...' END AS trunc_tiny,
      |  CASE WHEN length(text) <= 24 THEN text
      |       ELSE substring(text, 1, 23) || '…' END AS trunc_om,
      |  substring(text, 4, 1) AS slice_one,
      |  CASE WHEN regexp_matches(text, '([a-z]+) ([a-z]+)')
      |       THEN regexp_extract(text, '([a-z]+) ([a-z]+)', 2) ELSE '-' END AS slice_re,
      |  array_to_string(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |    x -> x <> ''), '|') AS toks
      |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin

  /** deterministic HLL distinct-user estimate per event type — the sketch
    * and its DuckDB replay are generated from one definition
    * (ml.Sketches); at 100 TB the shuffle carries ≤1024 (group, register)
    * rows per group instead of every raw id */
  def approxDistinctQ(spark: SparkSession, dir: String): DataFrame =
    graft.ml.Sketches.approxDistinct(
        Tables.table(spark, dir, "events"), Seq("event_type"), col("user_id"))
      .orderBy("event_type")

  val approxDistinctSql: String =
    graft.ml.Sketches.approxDistinctSql(
      "events", "event_type", "event_type", "user_id") + "\nORDER BY event_type"

  /** as-of join: each click attached to the user's latest purchase at or
    * before it (operators.AsofJoin — one union + window pass, no
    * inequality join); the oracle is DuckDB's NATIVE ASOF LEFT JOIN, an
    * independent implementation of the same semantics */
  def asofJoinQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.table(spark, dir, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("p_event_id"),
        round(col("value") * 100).cast("long").as("p_cents"))
    graft.operators.AsofJoin.asof(clicks, purchases, Seq("user_id"), "ts",
        Seq("p_event_id", "p_cents"))
      .select(col("event_id"), col("user_id"),
        col("asof_p_event_id"), col("asof_p_cents"))
      .orderBy("event_id")
  }

  val asofJoinSql: String =
    """SELECT l.event_id, l.user_id, r.event_id AS asof_p_event_id,
      |  CAST(round(r.value * 100) AS BIGINT) AS asof_p_cents
      |FROM (SELECT * FROM events WHERE event_type = 'click') l
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      |  ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY l.event_id""".stripMargin

  /** bucketed range join: lineitem price points inside sampled order
    * price intervals (operators.RangeJoin — hash join on quantized
    * buckets + exact filter, never a nested loop); integer-cent
    * arithmetic keeps the aggregate exact */
  def rangeJoinQ(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.table(spark, dir, "lineitem")
      .select(round(col("l_extendedprice") * 100).cast("long").as("p"))
    val iv = Tables.table(spark, dir, "orders")
      .where(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("lo"))
      .withColumn("hi", col("lo") + 500000L)
    graft.operators.RangeJoin.pointInInterval(pts, "p", iv, "lo", "hi",
        bucketWidth = 500000L)
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_pts"), sum(col("p")).as("sum_p"))
      .orderBy("o_orderkey")
  }

  val rangeJoinSql: String =
    """SELECT o_orderkey, count(*) AS n_pts, CAST(sum(p) AS BIGINT) AS sum_p
      |FROM (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS p
      |      FROM lineitem) pts
      |JOIN (SELECT o_orderkey,
      |        CAST(round(o_totalprice * 100) AS BIGINT) AS lo
      |      FROM orders WHERE o_orderkey % 100 = 0) iv
      |  ON p >= lo AND p < lo + 500000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** forward as-of: each click attached to the user's EARLIEST purchase
    * at or after it (AsofJoin Forward direction — same single
    * union+window pass); oracle is DuckDB ASOF LEFT JOIN with `<=` */
  def asofJoinFwdQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.table(spark, dir, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("p_event_id"),
        round(col("value") * 100).cast("long").as("p_cents"))
    graft.operators.AsofJoin.asof(clicks, purchases, Seq("user_id"), "ts",
        Seq("p_event_id", "p_cents"),
        direction = graft.operators.AsofJoin.Forward)
      .select(col("event_id"), col("user_id"),
        col("asof_p_event_id"), col("asof_p_cents"))
      .orderBy("event_id")
  }

  val asofJoinFwdSql: String =
    """SELECT l.event_id, l.user_id, r.event_id AS asof_p_event_id,
      |  CAST(round(r.value * 100) AS BIGINT) AS asof_p_cents
      |FROM (SELECT * FROM events WHERE event_type = 'click') l
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      |  ON l.user_id = r.user_id AND l.ts <= r.ts
      |ORDER BY l.event_id""".stripMargin

  /** interval-overlap join: two disjoint samples of order price
    * intervals, every overlapping pair found via bucket quantization —
    * each pair emitted from exactly ONE bucket (the overlap start's), so
    * no distinct pass; oracle is the plain quadratic overlap predicate */
  def intervalOverlapQ(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.table(spark, dir, "orders")
    def ivs(mod: Int, width: Long, kc: String, loc: String, hic: String) =
      orders.where(col("o_orderkey") % mod === 0)
        .select(col("o_orderkey").as(kc),
          round(col("o_totalprice") * 100).cast("long").as(loc))
        .withColumn(hic, col(loc) + width)
    val a = ivs(97, 300000L, "a_key", "a_lo", "a_hi")
    val b = ivs(89, 400000L, "b_key", "b_lo", "b_hi")
    graft.operators.RangeJoin.intervalOverlap(
        a, "a_lo", "a_hi", b, "b_lo", "b_hi", bucketWidth = 400000L)
      .groupBy(col("a_key"))
      .agg(count(lit(1)).as("n_overlaps"), sum(col("b_key")).as("sum_b"))
      .orderBy("a_key")
  }

  val intervalOverlapSql: String =
    """SELECT a_key, count(*) AS n_overlaps, CAST(sum(b_key) AS BIGINT) AS sum_b
      |FROM (SELECT o_orderkey AS a_key,
      |        CAST(round(o_totalprice * 100) AS BIGINT) AS a_lo,
      |        CAST(round(o_totalprice * 100) AS BIGINT) + 300000 AS a_hi
      |      FROM orders WHERE o_orderkey % 97 = 0) a
      |JOIN (SELECT o_orderkey AS b_key,
      |        CAST(round(o_totalprice * 100) AS BIGINT) AS b_lo,
      |        CAST(round(o_totalprice * 100) AS BIGINT) + 400000 AS b_hi
      |      FROM orders WHERE o_orderkey % 89 = 0) b
      |  ON a_lo < b_hi AND b_lo < a_hi
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "range_join" -> rangeJoinQ,
    "asof_join" -> asofJoinQ,
    "asof_join_fwd" -> asofJoinFwdQ,
    "interval_overlap" -> intervalOverlapQ,
    "approx_distinct" -> approxDistinctQ,
    "string_procs" -> stringProcs,
    "normalize_table" -> normalizeTable,
    "dump_cmd" -> dumpCmd,
    "select_filter_script" -> selectFilterScript,
    "normalize_cmd" -> normalizeCmd,
    "ft_query_syntax" -> querySyntax,
    "ft_query_or_phrase" -> queryOrPhrase,
    "select_cmd" -> selectCmd,
    "msgpack_cmd" -> msgpackCmd,
    "http_select" -> httpSelect,
    "arrow_cmd" -> arrowCmd,
    "tokenize_cmd" -> tokenizeCmd,
    "tokenize_filtered" -> tokenizeFiltered,
    "scorer_expr" -> scorerExpr,
    "highlight" -> highlightQ,
    "highlight_html" -> highlightHtml,
    "snippet" -> snippetQ,
    "in_records" -> inRecords,
    "logical_count" -> logicalCount,
    "logical_range_filter" -> logicalRangeFilter,
    "drilldown_labeled" -> drilldownLabeled,
    "drilldown_sampled" -> drilldownSampled,
    "term_df_ratio" -> termDfRatio,
    "index_diff" -> indexDiff,
    "geo_distance" -> geoDistance,
    "geo_distance23" -> geoDistance23,
    "geo_in" -> geoIn,
    "geo_in_indexed" -> geoInIndexed,
    "term_extract" -> termExtract,
    "html_untag" -> htmlUntag,
    "highlight_full" -> highlightFullQ,
    "normalize_html" -> normalizeHtml,
    "json_extract" -> jsonExtract,
    "doc_vectors_bm25" -> docVectorsBm25,
    "ft_sql_match" -> sqlMatch,
    "ft_query_parallel_or" -> queryParallelOr,
    "snippet_html" -> snippetHtml,
    "table_list" -> tableListCmd,
    "column_list" -> columnListCmd,
    "schema_cmd" -> schemaCmd,
    "object_inspect" -> objectInspectCmd,
    "ft_leading_not" -> leadingNot,
    "suggest_complete" -> suggestComplete,
    "suggest_learned" -> suggestLearned,
    "suggest_learn" -> suggestLearn,
    "suggest_learn_stream" -> suggestLearnStream,
    "suggest_learn_pairs" -> suggestLearnPairs,
    "suggest_correct" -> suggestCorrect,
    "suggest_cooccur" -> suggestCooccur,
    "ft_query_expand" -> queryExpand)

  val oracles: Map[String, String] = Map(
    "select_filter_script" -> selectFilterScriptSql,
    "normalize_cmd" -> normalizeCmdSql,
    "ft_query_syntax" -> querySyntaxSql,
    "ft_query_or_phrase" -> queryOrPhraseSql,
    "select_cmd" -> selectCmdSql,
    "msgpack_cmd" -> selectCmdSql,
    "http_select" -> selectCmdSql,
    "arrow_cmd" -> selectCmdSql,
    "tokenize_cmd" -> tokenizeCmdSql,
    "tokenize_filtered" -> tokenizeFilteredSql,
    "scorer_expr" -> scorerExprSql,
    "highlight" -> highlightSql,
    "highlight_html" -> highlightHtmlSql,
    "snippet" -> snippetSql,
    "in_records" -> inRecordsSql,
    "logical_count" -> logicalCountSql,
    "logical_range_filter" -> logicalRangeFilterSql,
    "drilldown_labeled" -> drilldownLabeledSql,
    "drilldown_sampled" -> drilldownSampledSql,
    "term_df_ratio" -> termDfRatioSql,
    "index_diff" -> indexDiffSql,
    "geo_distance" -> geoDistanceSql,
    "geo_distance23" -> geoDistance23Sql,
    "geo_in" -> geoInSql,
    "geo_in_indexed" -> geoInIndexedSql,
    "term_extract" -> termExtractSql,
    "html_untag" -> htmlUntagSql,
    "highlight_full" -> highlightFullSql,
    "normalize_html" -> normalizeHtmlSql,
    "string_procs" -> stringProcsSql,
    "normalize_table" -> normalizeTableSql,
    "dump_cmd" -> dumpCmdSql,
    "json_extract" -> jsonExtractSql,
    "doc_vectors_bm25" -> docVectorsBm25Sql,
    "ft_sql_match" -> sqlMatchSql,
    "ft_query_parallel_or" -> queryParallelOrSql,
    "snippet_html" -> snippetHtmlSql,
    "ft_leading_not" -> leadingNotSql,
    "suggest_complete" -> suggestCompleteSql,
    "suggest_learned" -> suggestLearnedSql,
    "suggest_learn" -> suggestLearnSql,
    "suggest_learn_stream" -> suggestLearnPairsSql,
    "suggest_learn_pairs" -> suggestLearnPairsSql,
    "suggest_correct" -> suggestCorrectSql,
    "suggest_cooccur" -> suggestCooccurSql,
    "ft_query_expand" -> queryExpandSql,
    "approx_distinct" -> approxDistinctSql,
    "asof_join" -> asofJoinSql,
    "asof_join_fwd" -> asofJoinFwdSql,
    "interval_overlap" -> intervalOverlapSql,
    "range_join" -> rangeJoinSql)
}
