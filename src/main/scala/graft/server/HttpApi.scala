package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Cast, EvalMode,
  NamedExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.api.{CommandFormat, Introspect, Msgpack}
import graft.api.CommandFormat.ResultSet
import graft.index.GraftIndex

/** The reference's HTTP front re-expressed over the JDK's built-in
  * HttpServer (zero third-party deps): `GET /d/<command>[.<output_type>]
  * ?<urlencoded args>` and `POST /d/load` with a JSON body — the same
  * URL shape groonga's `h_*` handlers parse and hand to grn_ctx_send
  * (/root/reference/src/groonga.c:1957, path→command dispatch in
  * lib/ctx.cpp). Output types json (command_version 1 AND 3), xml and
  * msgpack all render through [[CommandFormat]], so the wire bytes are
  * the same envelopes the format specs golden-match.
  *
  * Architecture note (the 100-TB story): this server is the CONTROL
  * plane. It listens on the Spark DRIVER and answers through the same
  * library calls the API offers (`Select.matches`, `Select.pageRows`,
  * the CommandFormat formatters), so the HTTP layer adds no data-plane
  * hop and no new scaling ceiling — it is the groonga daemon's
  * admin/query socket, not a shard router. A select whose match set fits
  * the small-query cap is one Spark job (the block scan); its page is
  * sorted, projected and formatted from the rows the job returned to the
  * driver, with no further Dataset. Above the cap the match set, its
  * count and its page are distributed DataFrame plans. Result pages are
  * bounded by the command's offset/limit exactly like the reference
  * (an unbounded dump is refused on either path: a
  * `CommandFormat.ResultSet` holds at most `MaxRows` rows).
  *
  * Errors return the reference error-envelope shape
  * `[[rc, start, elapsed, "message"], ...]` with HTTP 400 and
  * rc = -22 (GRN_INVALID_ARGUMENT) for bad commands/args. */
final class GraftHttpServer(
    spark: SparkSession,
    indexes: Map[String, GraftIndex],
    tables: Map[String, DataFrame] = Map.empty,
    port: Int = 0) {

  private val startedAtMs = System.currentTimeMillis()
  private val nQueries = new java.util.concurrent.atomic.AtomicLong(0L)

  /** live index registry: `load` commits a new manifest version, so the
    * serving snapshot is re-opened after each load (readers in flight keep
    * their pinned snapshot — the manifest flip is atomic) */
  private val live = {
    val m = new java.util.concurrent.ConcurrentHashMap[String, GraftIndex]()
    indexes.foreach { case (k, v) => m.put(k, v) }
    m
  }
  private val loadLocks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** wall ms of the last [[GraftHttpServer.SelectRing]] selects */
  private val selectMs = new LatencyRing(GraftHttpServer.SelectRing)

  private val server = {
    GraftHttpServer.noDelayByDefault()
    com.sun.net.httpserver.HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  }
  // daemon workers + explicit shutdown in stop(): the server must never
  // keep the driver JVM alive after close
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4,
    new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger(0)
      override def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-http-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })
  server.setExecutor(pool)
  server.createContext("/d/", new com.sun.net.httpserver.HttpHandler {
    override def handle(ex: com.sun.net.httpserver.HttpExchange): Unit =
      try respond(ex) catch {
        case t: Throwable => // handler must never leak an exception
          try sendError(ex, "json", 1, t) catch { case _: Throwable => () }
      } finally ex.close()
  })

  def start(): GraftHttpServer = { server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdownNow(); () }
  def boundPort: Int = server.getAddress.getPort

  // ---- request plumbing ----

  private def parseQuery(raw: String): Map[String, String] =
    if (raw == null || raw.isEmpty) Map.empty
    else raw.split('&').toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
        case Array(k) => java.net.URLDecoder.decode(k, "UTF-8") -> ""
      }
    }.toMap

  private def send(ex: com.sun.net.httpserver.HttpExchange, code: Int,
      contentType: String, body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, body.length.toLong)
    val os = ex.getResponseBody
    os.write(body); os.flush(); os.close()
  }

  private def contentTypeOf(outputType: String): String = outputType match {
    case "xml" => "text/xml"
    case "msgpack" => "application/x-msgpack"
    case "arrow" | "apache-arrow" => "application/x-apache-arrow-streaming"
    case _ => "application/json"
  }

  /** the error envelope of `error`, with HTTP 400. Its message is one
    * line, as groonga's are: an AnalysisException's message without the
    * analyzed plan Spark appends to it. */
  private def sendError(ex: com.sun.net.httpserver.HttpExchange,
      outputType: String, version: Int, error: Throwable): Unit = {
    val msg = Option(error match {
      case e: AnalysisException => e.getSimpleMessage
      case e => e.getMessage
    }).getOrElse("error")
    val body: Array[Byte] = outputType match {
      case "msgpack" =>
        Msgpack.pack(Vector(Vector[Any](-22, 0.0, 0.0, msg)))
      case _ if version == 3 =>
        (s"""{"header":{"return_code":-22,"start_time":0.0,""" +
          s""""elapsed_time":0.0,"error":{"message":${jsonStr(msg)}}},""" +
          s""""body":null}""").getBytes(UTF_8)
      case _ =>
        s"""[[-22,0.0,0.0,${jsonStr(msg)}]]""".getBytes(UTF_8)
    }
    send(ex, 400, contentTypeOf(outputType), body)
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < 0x20 => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  // ---- dispatch ----

  private def respond(ex: com.sun.net.httpserver.HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val startSec = System.currentTimeMillis() / 1000.0
    val path = ex.getRequestURI.getPath.stripPrefix("/d/")
    val (command, extType) = path.lastIndexOf('.') match {
      case -1 => (path, None)
      case i => (path.take(i), Some(path.drop(i + 1)))
    }
    val args = parseQuery(ex.getRequestURI.getRawQuery)
    val outputType = extType.orElse(args.get("output_type")).getOrElse("json")
    val version = args.get("command_version").map(_.toInt).getOrElse(1)
    nQueries.incrementAndGet()

    def elapsed: Double = (System.nanoTime() - t0) / 1e9

    /** one result-set command: (result set, nHits, positional drilldowns);
      * the drilldowns are collected only by the output types that carry them */
    def reply(rs: ResultSet, nHits: Long, drilldowns: Seq[(DataFrame, Long)] = Nil): Unit = {
      lazy val dds = drilldowns.map { case (dd, n) => (ResultSet.of(dd), n) }
      val body: Array[Byte] = outputType match {
        case "xml" =>
          CommandFormat.xml(rs, nHits,
            offset = args.get("offset").map(_.toInt).getOrElse(0),
            limit = args.get("limit").map(_.toInt).getOrElse(10),
            drilldowns = dds).getBytes(UTF_8)
        case "msgpack" =>
          CommandFormat.msgpack(CommandFormat.bodyTree(rs, nHits),
            dds.map { case (dd, n) => CommandFormat.bodyTree(dd, n) },
            returnCode = 0, startSec = startSec, elapsedSec = elapsed)
        case "arrow" | "apache-arrow" =>
          // the reference streams the result set itself (header/drilldowns
          // travel as separate metadata streams); main result set here
          graft.api.ArrowFormat.arrow(rs, nHits)
        case _ if version == 3 =>
          CommandFormat.envelopeV3(CommandFormat.bodyV3(rs, nHits),
            startSec = startSec, elapsedSec = elapsed).getBytes(UTF_8)
        case _ =>
          CommandFormat.envelope(CommandFormat.body(rs, nHits),
            drilldowns = dds.map { case (dd, n) => CommandFormat.body(dd, n) },
            startSec = startSec, elapsedSec = elapsed).getBytes(UTF_8)
      }
      send(ex, 200, contentTypeOf(outputType), body)
    }

    def index(name: String): GraftIndex = Option(live.get(name)).getOrElse(
      throw new IllegalArgumentException(s"[table][select] unknown table: <$name>"))

    try command match {
      case "status" =>
        val up = (System.currentTimeMillis() - startedAtMs) / 1000
        val snapshots = live.asScala.toSeq.sortBy(_._1)
          .map { case (t, idx) => s"${jsonStr(t)}:${jsonStr(idx.snapshotId)}" }
        val body =
          s"""[[0,$startSec,$elapsed],{"version":"graft/0.6","uptime":$up,""" +
          s""""n_queries":${nQueries.get()},"start_time":${startedAtMs / 1000},""" +
          s""""select_ms":${selectMs.json},"snapshots":{${snapshots.mkString(",")}}}]"""
        send(ex, 200, contentTypeOf("json"), body.getBytes(UTF_8))

      case "select" =>
        val table = args.getOrElse("table",
          throw new IllegalArgumentException("[select] table is missing"))
        val idx = index(table)
        val q = args.getOrElse("query", "")
        val req = graft.operators.Select.Request(
          query = q,
          score = args.get("score") match {
            case Some("bm25") => graft.query.ScoreMode.Bm25()
            case _ => graft.query.ScoreMode.Tf
          },
          sortKeys = args.get("sort_keys")
            .map(graft.operators.Select.parseSortKeys)
            .getOrElse(Seq(("score", false), ("doc_id", true))),
          offset = args.get("offset").map(_.toInt).getOrElse(0),
          limit = args.get("limit").map(_.toInt).getOrElse(10))
        // reference default output_columns: _id, _score (ints in TF mode)
        val outCols = GraftHttpServer.outputColumns(spark,
          args.getOrElse("output_columns", "_id, _score"))
        // one match set for nHits, the page and the drilldowns; evaluated
        // once under the small-query cap, re-run per action above it
        val matched = graft.operators.Select.matches(idx, req)
        val (page, nHits) = GraftHttpServer.selectPage(spark, matched, req, outCols)
        val dds = args.get("drilldown").toSeq.flatMap { dcol =>
          val src = tables.getOrElse(table, throw new IllegalArgumentException(
            s"[select][drilldown] no source table registered for <$table>"))
          // over the whole match set, not the page (SURVEY.md §2.5)
          val grouped = src.join(matched.select(col("doc_id")), Seq("doc_id"))
            .groupBy(col(dcol).as("_key"))
            .agg(count(lit(1)).as("_nsubrecs"))
            .orderBy(desc("_nsubrecs"), asc("_key"))
          Seq((grouped.limit(10), grouped.count()))
        }
        reply(page, nHits, dds)
        selectMs.add((System.nanoTime() - t0) / 1e6)

      case "load" =>
        require(ex.getRequestMethod == "POST", "[load] POST only")
        val table = args.getOrElse("table",
          throw new IllegalArgumentException("[load] table is missing"))
        val idx = index(table)
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        import spark.implicits._
        val rows = spark.read.json(Seq(body).toDS())
        require(rows.columns.contains("doc_id") && rows.columns.contains("text"),
          "[load] body rows need doc_id and text")
        val n = rows.count()
        // loads to one table run one at a time, as groonga's do: each
        // commits over the one before. Body rows may come in any order; the
        // segment builder wants ascending ids per partition.
        loadLocks.computeIfAbsent(table, _ => new Object).synchronized {
          graft.streaming.IncrementalIndex.upsert(spark, idx.path,
            rows.select(col("doc_id").cast("long"), col("text").cast("string"))
              .sortWithinPartitions("doc_id"),
            "doc_id", "text", s"seg-http-${System.nanoTime()}",
            graft.index.IndexConfig(tokenizer = idx.meta.tokenizer))
          live.put(table, GraftIndex(spark, idx.path)) // serve the new snapshot
        }
        send(ex, 200, contentTypeOf("json"),
          s"[[0,$startSec,$elapsed],$n]".getBytes(UTF_8))

      case "table_list" =>
        import spark.implicits._
        val df = indexes.keys.toSeq.sorted.zipWithIndex
          .map { case (n, i) => (i.toLong + 256L, n) }.toDF("id", "name")
        reply(ResultSet.of(df), df.count())

      case "column_list" =>
        val table = args.getOrElse("table",
          throw new IllegalArgumentException("[column_list] table is missing"))
        val df = Introspect.columnList(index(table), "postings").orderBy("id")
        reply(ResultSet.of(df), df.count())

      case "schema" =>
        val table = args.getOrElse("table",
          throw new IllegalArgumentException("[schema] table is missing"))
        val df = Introspect.schemaCmd(index(table)).orderBy("section", "name")
        reply(ResultSet.of(df), df.count())

      case "object_inspect" =>
        val table = args.getOrElse("table",
          throw new IllegalArgumentException("[object_inspect] table is missing"))
        val df = Introspect.objectInspect(index(table),
          args.getOrElse("name", "postings"))
        reply(ResultSet.of(df), df.count())

      case "tokenize" =>
        val tokenizer = args.getOrElse("tokenizer", "TokenBigram")
        val string = args.getOrElse("string",
          throw new IllegalArgumentException("[tokenize] string is missing"))
        val mode = if (args.get("mode").contains("GET"))
          graft.analyzer.TokenizeMode.Get else graft.analyzer.TokenizeMode.Add
        import spark.implicits._
        val toks = graft.analyzer.Analyzers.byName(tokenizer)
          .tokenize(string, mode)
          .map(t => (t.term, t.pos,
            (t.status & graft.analyzer.TokenStatus.ForcePrefix) != 0))
          .toSeq.toDF("value", "position", "force_prefix")
        reply(ResultSet.of(toks), toks.count())

      case "normalize" =>
        val normalizer = args.getOrElse("normalizer", "NormalizerAuto")
        val string = args.getOrElse("string",
          throw new IllegalArgumentException("[normalize] string is missing"))
        import spark.implicits._
        val df = Seq(graft.analyzer.Normalizer.byName(normalizer)(string))
          .toDF("normalized")
        reply(ResultSet.of(df), 1L)

      case other =>
        throw new IllegalArgumentException(s"invalid command name: <$other>")
    } catch {
      case e: Exception => sendError(ex, outputType, version, e)
    }
  }
}

object GraftHttpServer {
  /** `output_columns` as expressions over the match set's columns by name:
    * `_id` is `doc_id`, `_score` is `score` cast to a long under the
    * session's eval mode (ANSI by default), as `col(...).cast("long")`
    * would be */
  private[graft] def outputColumns(spark: SparkSession, spec: String): Seq[NamedExpression] = {
    val conf = spark.sessionState.conf
    spec.split(',').map(_.trim).filter(_.nonEmpty).toSeq.map {
      case "_id" => Alias(UnresolvedAttribute.quoted("doc_id"), "_id")()
      case "_score" => Alias(Cast(UnresolvedAttribute.quoted("score"), LongType,
        Some(conf.sessionLocalTimeZone), EvalMode.fromSQLConf(conf)), "_score")()
      case other => throw new IllegalArgumentException(
        s"[select] unsupported output column: <$other>")
    }
  }

  /** the select's page, projected to `outCols`, and nHits. A page of
    * driver rows is projected row by row, by the expressions bound to its
    * attributes and evaluated interpretively: no Dataset is built, and the
    * select posts no SQL execution. Any other page is a plan, projected and
    * collected by Spark, and nHits is a count of `matched`. */
  private[graft] def selectPage(spark: SparkSession, matched: DataFrame,
      req: graft.operators.Select.Request, outCols: Seq[NamedExpression]): (ResultSet, Long) =
    graft.operators.Select.pageRows(matched, req) match {
      case Right(p) =>
        val resolver = spark.sessionState.conf.resolver
        val exprs = outCols.map(_.transformUp { case u: UnresolvedAttribute =>
          graft.operators.Select.resolveColumn(p.output, u.name, resolver).getOrElse(
            throw new IllegalArgumentException(s"[select] no column ${u.name} in " +
              p.output.map(_.name).mkString(", ")))
        }.asInstanceOf[NamedExpression])
        val schema = StructType(exprs.map(e => StructField(e.name, e.dataType, e.nullable)))
        val bound = exprs.map(BindReferences.bindReference(_, p.output))
        val toRow = CatalystTypeConverters.createToScalaConverter(schema)
        val rows = p.rows.map(r => toRow(InternalRow.fromSeq(bound.map(_.eval(r)))).asInstanceOf[Row])
        (ResultSet(schema, rows), p.nHits)
      case Left(page) =>
        (ResultSet.of(page.select(outCols.map(GraftColumnBridge.column): _*)), matched.count())
    }

  /** how many of the latest selects `status` reports `select_ms` over */
  private final val SelectRing = 1024

  /** The JDK server leaves TCP_NODELAY off. A reply's headers leave as one
    * segment, and Nagle then holds the body back until the client ACKs
    * them, which a Linux client delays by about 40 ms: every reply would
    * wait for that timer. The server has no per-socket option; its one
    * switch is this property, read once, when the JVM's first JDK
    * HttpServer is made. So it is turned on before each create, unless
    * it was set explicitly (-Dsun.net.httpserver.nodelay=...). */
  private def noDelayByDefault(): Unit = {
    System.getProperties.putIfAbsent("sun.net.httpserver.nodelay", "true")
    ()
  }
}

/** The last `capacity` samples, the newest overwriting the oldest. */
private final class LatencyRing(capacity: Int) {
  private val samples = new Array[Double](capacity)
  private var added = 0L

  def add(ms: Double): Unit = synchronized {
    samples((added % capacity).toInt) = ms
    added += 1
  }

  /** `{"n":…,"p50":…,"p95":…,"p99":…}`, nearest-rank percentiles of the
    * samples held; null percentiles while it is empty */
  def json: String = {
    val held = synchronized(samples.take(math.min(added, capacity.toLong).toInt)).sorted
    def pct(q: Double): String =
      if (held.isEmpty) "null"
      else "%.3f".formatLocal(java.util.Locale.ROOT,
        held(math.max(0, math.ceil(q * held.length).toInt - 1)))
    s"""{"n":${held.length},"p50":${pct(0.50)},"p95":${pct(0.95)},"p99":${pct(0.99)}}"""
  }
}
