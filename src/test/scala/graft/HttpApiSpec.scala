package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

import graft.api.Msgpack
import graft.server.GraftHttpServer

/** End-to-end drive of the HTTP front: the envelopes on the wire must be
  * EXACTLY what CommandFormat renders for the direct library call — the
  * server is a transport, not a second engine. */
class HttpApiSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val capKey = "spark.graft.smallQueryMaxPostings"
  private val defaultCap = graft.index.GraftIndex.DefaultSmallQueryMaxPostings.toString
  private def withCap[A](cap: String)(f: => A): A = {
    val old = spark.conf.getOption(capKey)
    spark.conf.set(capKey, cap)
    try f finally old.foreach(spark.conf.set(capKey, _))
  }

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "spark fulltext engine"), (2L, "fast spark joins"),
      (3L, "columnar scan"), (4L, "spark spark spark"),
      (5L, "window functions")).toDF("doc_id", "text")
  }
  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-http").toString + "/idx"
  private def serve(dir: String = freshDir()): GraftHttpServer = {
    val built = graft.index.IndexBuilder.build(spark, docs, "doc_id", "text", dir,
      graft.index.IndexConfig(tokenizer = "TokenBigram"))
    new GraftHttpServer(spark, Map("docs" -> built), Map("docs" -> docs)).start()
  }
  /** the spec's server; TestSpark pins cap 0, the distributed kernel */
  private lazy val srv = serve()
  /** a second server whose handle only ever runs under the default cap:
    * its selects take the driver path and page on the driver */
  private lazy val fastSrv = serve()
  private lazy val client = HttpClient.newHttpClient()

  private def get(pathAndQuery: String): HttpResponse[Array[Byte]] = getFrom(srv, pathAndQuery)
  private def getFrom(server: GraftHttpServer, pathAndQuery: String): HttpResponse[Array[Byte]] =
    client.send(
      HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${server.boundPort}$pathAndQuery")).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())

  /** registers `name` against the cap-0 server and `name [driver path]`
    * against the default-cap server; `body` gets the GET to use */
  private def bothPaths(name: String)(body: (String => HttpResponse[Array[Byte]]) => Unit): Unit = {
    test(name)(body(get))
    test(s"$name [driver path]")(body(p => withCap(defaultCap)(getFrom(fastSrv, p))))
  }

  bothPaths("select over HTTP returns the v1 envelope with hits and scores") { get =>
    val r = get("/d/select?table=docs&query=spark&limit=10")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").get() == "application/json")
    val body = new String(r.body(), "UTF-8")
    // doc 4 has tf 3 -> ranked first; columns are the reference defaults
    assert(body.contains("""[["_id","Int64"],["_score","Int64"]]"""))
    assert(body.contains("[[3],") && body.contains("[4,3]") &&
      body.contains("[1,1]") && body.contains("[2,1]"))
  }

  bothPaths("msgpack select decodes to the same rows as json") { get =>
    val r = get("/d/select.msgpack?table=docs&query=spark&limit=10")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").get() == "application/x-msgpack")
    val env = Msgpack.unpack(r.body()).asInstanceOf[Vector[Any]]
    assert(env(0).asInstanceOf[Vector[Any]].head == 0L)
    val rs = env(1).asInstanceOf[Vector[Any]](0).asInstanceOf[Vector[Any]]
    assert(rs(0) == Vector(3L))
    assert(rs.drop(2) == Vector(Vector(4L, 3L), Vector(1L, 1L), Vector(2L, 1L)))
  }

  bothPaths("command_version=3 wraps header/body; xml renders the result page") { get =>
    val v3 = new String(get("/d/select?table=docs&query=spark&command_version=3").body(), "UTF-8")
    assert(v3.startsWith("""{"header":{"return_code":0"""))
    assert(v3.contains(""""n_hits":3"""))
    val xml = new String(get("/d/select.xml?table=docs&query=spark").body(), "UTF-8")
    assert(xml.contains("""<RESULTSET OFFSET="0" LIMIT="3" NHITS="3">"""))
    assert(xml.contains("""<HIT NO="1">"""))
  }

  test("apache-arrow select streams real IPC bytes with n_hits metadata") {
    val r = get("/d/select.arrow?table=docs&query=spark&limit=10")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").get() ==
      "application/x-apache-arrow-streaming")
    val (nHits, names, rows) = graft.api.ArrowFormat.arrowRead(r.body())
    assert(nHits == 3L && names == Seq("_id", "_score"))
    assert(rows == Vector(Vector(4L, 3L), Vector(1L, 1L), Vector(2L, 1L)))
  }

  test("drilldown rides the select as a second result set") {
    val body = new String(
      get("/d/select?table=docs&query=spark&drilldown=text").body(), "UTF-8")
    assert(body.contains("_nsubrecs"))
  }

  bothPaths("drilldown groups the whole match set, not the page") { get =>
    // --limit 0 --drilldown: the facet-only idiom; groups still count all hits
    val body = new String(
      get("/d/select?table=docs&query=spark&limit=0&drilldown=text").body(), "UTF-8")
    assert(body.contains("[[3],"))
    val groups = """\["[^"]*",(\d+)\]""".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
    assert(groups.size == 3 && groups.sum == 3L, body)
  }

  bothPaths("offset/limit page; sort_keys parse the reference syntax") { get =>
    val body = new String(get(
      "/d/select?table=docs&query=spark&sort_keys=%2B_id&offset=1&limit=1").body(), "UTF-8")
    // ascending _id, second page of one row -> doc 2
    assert(body.contains("[[3],") && body.contains("[2,1]") && !body.contains("[1,1]"))
  }

  test("a driver-path select is one Spark job, cold or warm, for every plain-term shape") {
    withCap(defaultCap) {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val sqlExecutions = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
          e match {
            case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
              sqlExecutions.incrementAndGet()
            case _ =>
          }
      }
      /** (Spark jobs, SQL executions) the GET posts */
      def jobsOf(server: GraftHttpServer, pathAndQuery: String): (Int, Int) = {
        org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
        jobs.set(0)
        sqlExecutions.set(0)
        val r = getFrom(server, pathAndQuery)
        assert(r.statusCode() == 200, new String(r.body(), "UTF-8"))
        org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
        (jobs.get(), sqlExecutions.get())
      }
      /** the broadcast ids the GET takes, between two of this spec's own */
      def broadcastsOf(server: GraftHttpServer, pathAndQuery: String): Long = {
        val before = spark.sparkContext.broadcast(0)
        val r = getFrom(server, pathAndQuery)
        val after = spark.sparkContext.broadcast(0)
        before.destroy()
        after.destroy()
        assert(r.statusCode() == 200, new String(r.body(), "UTF-8"))
        after.id - before.id - 1
      }
      val clean = freshDir()
      graft.index.IndexBuilder.build(spark, docs, "doc_id", "text", clean,
        graft.index.IndexConfig(tokenizer = "TokenBigram"))
      val tombstoned = freshDir()
      graft.index.IndexBuilder.build(spark, docs, "doc_id", "text", tombstoned,
        graft.index.IndexConfig(tokenizer = "TokenBigram"))
      graft.streaming.IncrementalIndex.delete(spark, tombstoned, Seq(4L))
      val shapes = Seq("spark+fast", "spark+OR+fast", "spark+OR+fast+OR+columnar",
        "%22spark+fulltext%22")
      spark.sparkContext.addSparkListener(listener)
      try {
        for (dir <- Seq(clean, tombstoned); q <- shapes) {
          // a handle nothing else uses, so the shape's terms are cold
          val server = new GraftHttpServer(spark,
            Map("docs" -> graft.index.GraftIndex(spark, dir)), Map("docs" -> docs)).start()
          try {
            // pays the handle's one-time jobs (parquet schemas, tombstones)
            jobsOf(server, "/d/select?table=docs&query=window&limit=10")
            val path = s"/d/select?table=docs&query=$q&limit=10"
            // the block scan, and no Dataset action: the page is formatted
            // from the rows the scan returned
            assert(jobsOf(server, path) == ((1, 0)), s"cold terms, $q on $dir")
            assert(jobsOf(server, path) == ((1, 0)), s"warm terms, $q on $dir")
            // and one broadcast, its stage's task binary: the block read
            // shares the handle's Hadoop conf
            assert(broadcastsOf(server, path) == 1L, s"warm terms, $q on $dir")
          } finally server.stop()
        }
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("a select's bytes are the same on the driver path and the distributed path") {
    import spark.implicits._
    val corpus = graft.corpus.WebCorpus.generate(spark, 600, 4)
    def build(dir: String) = graft.index.IndexBuilder.build(spark, corpus, "doc_id", "text",
      dir, graft.index.IndexConfig(bucketBits = 6))
    val clean = freshDir()
    build(clean)
    // deletes, a resurrected id and replaced docs: two data segments and
    // two tombstone segments
    val tombstoned = freshDir()
    build(tombstoned)
    graft.streaming.IncrementalIndex.delete(spark, tombstoned, Seq(3L, 77L, 500L, 540L))
    graft.streaming.IncrementalIndex.upsert(spark, tombstoned,
      Seq(77L -> "spark fulltext qqresurrected", 120L -> "spark crawl",
        590L -> "index crawl spark").toDF("doc_id", "text"),
      "doc_id", "text", "ups-1")
    val queries = Seq(
      "spark fulltext" -> "tf", // AND
      "spark OR crawl OR index" -> "bm25", // OR
      "\"spark fulltext search engine\"" -> "tf", // phrase
      "spark zzznosuchterm" -> "tf", // empty
      "spark OR \"fulltext search\"" -> "bm25") // mixed OR: a plan on both paths
    val sortKeys = Seq("-_score, +_id", "_id", "-_id")
    /** (offset, limit): a page, a middle page, past the end, empty, unbounded */
    val pages = Seq((0, 10), (3, 5), (100000, 10), (0, 0), (2, -1))
    val outputs = Seq("json" -> 1, "json" -> 3, "xml" -> 1, "msgpack" -> 1, "apache-arrow" -> 1)
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    def select(ty: String, version: Int, q: String, score: String, sk: String,
        off: Int, lim: Int) =
      s"/d/select.$ty?table=docs&query=${enc(q)}&score=$score&sort_keys=${enc(sk)}" +
        s"&offset=$off&limit=$lim&command_version=$version"
    // once it holds a result set, a formatter is the same code on both
    // paths: every query, sort key and page goes through JSON v1, and each
    // other output type through a middle and an unbounded page of each query
    val paths = (for {
      (q, score) <- queries
      sk <- sortKeys
      (off, lim) <- pages
    } yield select("json", 1, q, score, sk, off, lim)) ++ (for {
      (ty, version) <- outputs.tail
      (q, score) <- queries
      (off, lim) <- Seq(pages(1), pages(4))
    } yield select(ty, version, q, score, sortKeys.head, off, lim))
    val errors = for {
      (ty, version) <- outputs
      bad <- Seq("sort_keys=nosuchcol", "output_columns=_id,title")
    } yield s"/d/select.$ty?table=docs&query=spark&$bad&command_version=$version"
    /** the v1 header's start and elapsed: JSON text, or two msgpack float64s */
    def masked(b: Array[Byte]): Seq[Byte] = {
      val text = new String(b, "UTF-8")
      if (b.length > 21 && (b(0) & 0xff) == 0x92 && (b(1) & 0xff) == 0x93 &&
          (b(3) & 0xff) == 0xcb && (b(12) & 0xff) == 0xcb)
        b.take(4).toSeq ++ b.drop(21)
      else """^\[\[(-?\d+),[^,\]]+,[^,\]]+\]|"start_time":[^,]+,"elapsed_time":[^,}]+"""
        .r.replaceAllIn(text, "MASKED").getBytes("UTF-8").toSeq
    }
    /** (status, content type, masked body) of every path, then of every error */
    def replies(dir: String, cap: String): Seq[(Int, String, Seq[Byte])] = withCap(cap) {
      val server = new GraftHttpServer(spark,
        Map("docs" -> graft.index.GraftIndex(spark, dir))).start()
      def reply(p: String, body: Array[Byte] => Seq[Byte]) = {
        val r = getFrom(server, p)
        (r.statusCode(), r.headers().firstValue("Content-Type").get(), body(r.body()))
      }
      try paths.map(reply(_, masked)) ++ errors.map(reply(_, _.toSeq))
      finally server.stop()
    }
    for (dir <- Seq(clean, tombstoned)) {
      val distributed = replies(dir, "0")
      val statuses = distributed.map(_._1)
      assert(statuses.take(paths.size).forall(_ == 200) && statuses.drop(paths.size).forall(_ == 400))
      val texts = distributed.map(r => new String(r._3.toArray, "UTF-8"))
      val v1 = texts.filter(_.startsWith("MASKED,"))
      assert(v1.exists(_.contains("[[0],")) && v1.exists(_.matches(""".*\[\[\d\d+\],.*""")))
      // an error is the one-line message, without the analyzed plan Spark
      // appends to an AnalysisException's (the kernel's on one path, a
      // LocalRelation on the other)
      assert(texts.drop(paths.size).forall(t => !t.contains("\n") && !t.contains("\\n") &&
        (t.contains("[UNRESOLVED_COLUMN") || t.contains("unsupported output column"))))
      val driver = replies(dir, defaultCap)
      (paths ++ errors).zip(distributed.zip(driver)).foreach { case (p, (d, f)) =>
        assert(f == d, s"$p on $dir:\n${new String(f._3.toArray, "UTF-8")}\n" +
          s"vs\n${new String(d._3.toArray, "UTF-8")}")
      }
    }
  }

  test("an unknown sort key gives the same error bytes on both paths") {
    for (ty <- Seq("json", "msgpack"); version <- Seq(1, 3)) {
      val path = s"/d/select.$ty?table=docs&query=spark&sort_keys=nosuchcol&command_version=$version"
      val distributed = get(path)
      val driver = withCap(defaultCap)(getFrom(fastSrv, path))
      assert(distributed.statusCode() == 400 && driver.statusCode() == 400)
      assert(driver.body().toSeq == distributed.body().toSeq, new String(driver.body(), "UTF-8"))
      val text = new String(distributed.body(), "UTF-8")
      assert(text.contains("[UNRESOLVED_COLUMN") && !text.contains("\n") && !text.contains("\\n"),
        text)
    }
  }

  test("a page over maxRows is refused with the same error on both paths") {
    import spark.implicits._
    val maxRows = graft.api.CommandFormat.ResultSet.MaxRows
    val dir = freshDir()
    graft.index.IndexBuilder.build(spark,
      (1L to maxRows + 1L).map(_ -> "spark").toDF("doc_id", "text"), "doc_id", "text", dir,
      graft.index.IndexConfig(tokenizer = "TokenBigram"))
    // a handle of its own for each cap: one that has run a term under the
    // cap keeps its rows
    def isDriverPage(cap: String): Boolean = withCap(cap) {
      val req = graft.operators.Select.Request("spark", limit = -1)
      val matched = graft.operators.Select.matches(graft.index.GraftIndex(spark, dir), req)
      graft.operators.Select.pageRows(matched, req).isRight
    }
    assert(isDriverPage(defaultCap) && !isDriverPage("0"))
    /** pages of maxRows + 1, of maxRows + 1 under a larger limit, and of maxRows */
    val pages = Seq("limit=-1", s"limit=${maxRows * 5}", "offset=1&limit=-1")
    /** (status, body with the start and elapsed of a success masked) */
    def replies(cap: String): Seq[(Int, String)] = withCap(cap) {
      val server = new GraftHttpServer(spark,
        Map("docs" -> graft.index.GraftIndex(spark, dir))).start()
      try pages.map { p =>
        val r = getFrom(server, s"/d/select?table=docs&query=spark&sort_keys=_id&$p")
        val body = new String(r.body(), "UTF-8")
        (r.statusCode(), """^\[\[0,[^\]]*\]""".r.replaceFirstIn(body, "[[0]"))
      } finally server.stop()
    }
    val distributed = replies("0")
    assert(distributed.map(_._1) == Seq(400, 400, 200))
    assert(distributed.head._2 == s"[[-22,0.0,0.0,\"requirement failed: result exceeds " +
      s"maxRows=$maxRows — apply the command's limit before formatting\"]]")
    assert(replies(defaultCap) == distributed)
  }

  test("status, tokenize, normalize, schema answer") {
    val st = new String(get("/d/status").body(), "UTF-8")
    assert(st.contains(""""version":"graft/0.6"""") && st.contains(""""n_queries":"""))
    val tok = new String(
      get("/d/tokenize?tokenizer=TokenBigram&string=hello%20world").body(), "UTF-8")
    assert(tok.contains("\"hello\"") && tok.contains("\"world\""))
    val norm = new String(
      get("/d/normalize?normalizer=NormalizerAuto&string=ABC").body(), "UTF-8")
    assert(norm.contains("\"abc\""))
    val sch = new String(get("/d/schema?table=docs").body(), "UTF-8")
    assert(sch.contains("tables"))
  }

  test("a reply is not held back on the wire: nodelay is on, status round trips are fast") {
    srv
    assert(System.getProperty("sun.net.httpserver.nodelay") == "true")
    get("/d/status") // open the keep-alive connection
    val ms = (1 to 30).map { _ =>
      val t0 = System.nanoTime()
      assert(get("/d/status").statusCode() == 200)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    // a body held back until the client's delayed ACK waits about 40 ms
    assert(ms(15) < 15.0, s"median ${ms(15)} ms of ${ms.mkString(", ")}")
  }

  test("status reports the server's own select times and each table's snapshot") {
    import org.json4s._
    val dir = freshDir()
    val s = serve(dir)
    try {
      def status(): JObject = org.json4s.jackson.JsonMethods.parse(
        new String(getFrom(s, "/d/status").body(), "UTF-8")) match {
        case JArray(List(_, o: JObject)) => o
        case other => fail(s"not a status envelope: $other")
      }
      val empty = status()
      assert((empty \ "select_ms") == JObject("n" -> JInt(0), "p50" -> JNull,
        "p95" -> JNull, "p99" -> JNull))
      for (q <- Seq("spark", "columnar", "window", "joins"))
        assert(getFrom(s, s"/d/select?table=docs&query=$q").statusCode() == 200)
      getFrom(s, "/d/select?query=spark") // a failed select is not timed
      val st = status()
      val keys = st.obj.map(_._1)
      assert(keys == Seq("version", "uptime", "n_queries", "start_time", "select_ms", "snapshots"))
      assert((st \ "n_queries") == JInt(7)) // both statuses count
      val sel = st \ "select_ms"
      assert((sel \ "n") == JInt(4))
      val Seq(p50, p95, p99) = Seq("p50", "p95", "p99").map(k => (sel \ k) match {
        case JDouble(v) => v
        case other => fail(s"$k: $other")
      })
      assert(0.0 < p50 && p50 <= p95 && p95 <= p99)
      assert((st \ "snapshots") ==
        JObject("docs" -> JString(graft.index.GraftIndex(spark, dir).snapshotId)))
    } finally s.stop()
  }

  test("errors return the reference error envelope with HTTP 400") {
    val bad = get("/d/select?query=spark") // no table
    assert(bad.statusCode() == 400)
    assert(new String(bad.body(), "UTF-8").startsWith("[[-22,"))
    val unknown = get("/d/frobnicate")
    assert(unknown.statusCode() == 400)
    assert(new String(unknown.body(), "UTF-8").contains("invalid command name"))
    // msgpack error envelope too
    val mp = get("/d/select.msgpack?query=x")
    assert(mp.statusCode() == 400)
    val env = Msgpack.unpack(mp.body()).asInstanceOf[Vector[Any]]
    assert(env(0).asInstanceOf[Vector[Any]].head == -22L)
  }

  test("POST /d/load upserts through the live index") {
    val post = client.send(
      HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${srv.boundPort}/d/load?table=docs"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """[{"doc_id": 9, "text": "freshly loaded spark doc"}]"""))
        .build(),
      HttpResponse.BodyHandlers.ofString())
    assert(post.statusCode() == 200 && post.body().endsWith(",1]"))
    // the loaded doc is immediately searchable over the SAME server
    val body = new String(
      get("/d/select?table=docs&query=freshly&limit=5").body(), "UTF-8")
    assert(body.contains("[9,1]"))
  }

  private def load(server: GraftHttpServer, body: String) =
    client.sendAsync(
      HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${server.boundPort}/d/load?table=docs"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def selectBody(server: GraftHttpServer, query: String): String =
    new String(getFrom(server, s"/d/select?table=docs&query=$query&limit=10").body(), "UTF-8")

  test("POST /d/load takes body rows in any order") {
    val dir = freshDir()
    val s = serve(dir)
    try {
      assert(selectBody(s, "columnar").contains("[3,1]"))
      val post = load(s,
        """[{"doc_id": 5, "text": "zzqa reloaded"}, {"doc_id": 3, "text": "zzqb reloaded"}]""").join()
      assert(post.statusCode() == 200 && post.body().endsWith(",2]"), post.body())
      assert(graft.index.GraftIndex(spark, dir).meta.nDocs == 5)
      assert(!selectBody(s, "columnar").contains("[3,"), "old terms of doc 3 still match")
      assert(!selectBody(s, "window").contains("[5,"), "old terms of doc 5 still match")
      assert(selectBody(s, "zzqa").contains("[5,1]") && selectBody(s, "zzqb").contains("[3,1]"))
    } finally s.stop()
  }

  test("POST /d/load of a duplicate id fails with the error envelope and commits nothing") {
    val dir = freshDir()
    val s = serve(dir)
    try {
      val fs = graft.index.SegmentCatalog.fileSystem(spark, dir)
      val versions = graft.index.SegmentCatalog.listVersions(fs, dir)
      val head = graft.index.SegmentCatalog.readMeta(fs, dir)
      val post = load(s,
        """[{"doc_id": 2, "text": "zzqc one"}, {"doc_id": 2, "text": "zzqc two"}]""").join()
      assert(post.statusCode() == 400 && post.body().startsWith("[[-22,"), post.body())
      assert(graft.index.SegmentCatalog.listVersions(fs, dir) == versions)
      assert(graft.index.SegmentCatalog.readMeta(fs, dir) == head)
      assert(selectBody(s, "joins").contains("[2,1]"))
    } finally s.stop()
  }

  test("concurrent POST /d/load to one table both land") {
    val dir = freshDir()
    val s = serve(dir)
    try {
      val posts = Seq(7 -> "zzqd", 8 -> "zzqe").map { case (id, t) =>
        load(s, s"""[{"doc_id": $id, "text": "$t concurrent"}]""")
      }.map(_.join())
      posts.foreach(p => assert(p.statusCode() == 200, p.body()))
      assert(graft.index.GraftIndex(spark, dir).meta.nDocs == 7)
      assert(selectBody(s, "zzqd").contains("[7,1]") && selectBody(s, "zzqe").contains("[8,1]"))
      assert(selectBody(s, "concurrent").contains("[7,") && selectBody(s, "concurrent").contains("[8,"))
    } finally s.stop()
  }
}
