package graft

import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    GraftExtensions.register(s)
    s
  }

  test("the session extension and register() add the same functions") {
    val viaExtension = org.apache.spark.sql.InjectedFunctions.names(new GraftExtensions())
    val fresh = TestSpark.spark.newSession()
    val before = fresh.sessionState.functionRegistry.listFunction().map(_.funcName).toSet
    GraftExtensions.register(fresh)
    val viaRegister = fresh.sessionState.functionRegistry.listFunction().map(_.funcName).toSet -- before
    assert(viaExtension == Set("graft_tokenize", "poly_hash", "shingle_hash", "graft_match"))
    assert(viaRegister == viaExtension)
  }

  test("graft_tokenize generator works from SQL (LATERAL VIEW)") {
    import spark.implicits._
    Seq((1L, "spark 日本語 search")).toDF("id", "text")
      .createOrReplaceTempView("ext_docs")
    val rows = spark.sql(
      """SELECT id, t.pos, t.term FROM ext_docs
        |LATERAL VIEW graft_tokenize(text) t AS pos, term, status
        |ORDER BY pos""".stripMargin).collect()
    assert(rows.map(r => (r.getInt(1), r.getString(2))).toSeq ==
      Seq((0, "spark"), (1, "日本"), (2, "本語"), (3, "語"), (4, "search")))
  }

  test("tokenizer argument selects the analyzer") {
    import spark.implicits._
    Seq(Tuple1("a b")).toDF("text").createOrReplaceTempView("ext_docs2")
    val rows = spark.sql(
      """SELECT t.term FROM ext_docs2
        |LATERAL VIEW graft_tokenize(text, 'TokenBigramSplitSymbolAlpha') t AS pos, term, status
        |ORDER BY t.pos""".stripMargin).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "b"))
  }

  test("graft_match predicate plans into an index semi-join (Catalyst rule)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-rule").toString
    val docs = (0L until 200L).map { i =>
      val extra = if (i % 3 == 0) " spark" else ""
      val extra2 = if (i % 5 == 0) " join" else ""
      (i, s"common words$extra$extra2")
    }.toDF("doc_id", "text")
    val idx = graft.index.IndexBuilder.build(spark, docs, "doc_id", "text",
      s"$tmp/idx", graft.index.IndexConfig(tokenizer = "TokenBigram"))
    docs.createOrReplaceTempView("rule_docs")
    val df = spark.sql(
      s"SELECT doc_id FROM rule_docs WHERE graft_match('$tmp/idx', 'spark +join') AND doc_id < 100")
    val got = df.collect().map(_.getLong(0)).toSet
    val want = (0L until 100L).filter(i => i % 3 == 0 && i % 5 == 0).toSet
    assert(got == want)
    // the marker must be gone and a semi-join present
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("graft_match"), physical.take(500))
    assert(physical.contains("LeftSemi"), physical.take(500))
    // unplanned usage (rule disabled) would throw; with the rule it's fine
    // even mixed with OR-free residual conjuncts (covered above)
    val both = spark.sql(
      s"SELECT count(*) FROM rule_docs WHERE graft_match('$tmp/idx', 'spark') " +
        s"AND graft_match('$tmp/idx', 'join')").head().getLong(0)
    assert(both == (0L until 200L).count(i => i % 3 == 0 && i % 5 == 0))
  }

  test("graft_match nested under OR fails with a clear planning error") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-rule2").toString
    val docs = Seq((0L, "spark x"), (1L, "y z")).toDF("doc_id", "text")
    graft.index.IndexBuilder.build(spark, docs, "doc_id", "text",
      s"$tmp/idx", graft.index.IndexConfig())
    docs.createOrReplaceTempView("rule_docs2")
    val e = intercept[Exception] {
      spark.sql(s"SELECT doc_id FROM rule_docs2 WHERE " +
        s"graft_match('$tmp/idx', 'spark') OR doc_id = 1").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("TOP-LEVEL")), messages(e).mkString(" | "))
  }

  test("poly_hash / shingle_hash from SQL equal the Scala fold") {
    val h = spark.sql("SELECT poly_hash('spark'), shingle_hash('spark')").head()
    def ref(s: String, m: Long): Long =
      s.codePoints().toArray.foldLeft(0L)((a, c) => (a * m + c) % 1000000007L)
    assert(h.getLong(0) == ref("spark", 131))
    assert(h.getLong(1) == ref("spark", 31))
  }
}
