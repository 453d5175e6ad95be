package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Plan sanity asserts — fails loudly if a core path loses its expected
  * physical shape:
  *  - the kernel's posting block scan pushes its term IN filter into parquet
  *  - document scans prune to the selected columns
  *  - suffix expansion scans terms_rev with a StartsWith pushed filter
  *  - `Select.eval` on a pure-term conjunction plans ONE posting scan
  *  - dimension joins in drilldowns broadcast the small side
  *  - a select under the small-query cap pages a LocalRelation (no
  *    Exchange, no Sort)
  *  - a 3-segment index reads postings and docs in one scan each, and
  *    after a delete and an upsert its term-AND plan still scans postings
  *    once (tombstones ride the broadcast)
  *  - a segment write plans one exchange for terms and none for terms_rev
  * Run: sbt "runMain graft.tools.ExplainCheck" (exit 1 on any failure);
  * ExplainCheckSpec runs the same checks through [[run]].
  */
object ExplainCheck {
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val results = run(spark)
    spark.stop()
    if (results.exists(!_._2)) sys.exit(1)
  }

  /** Runs every plan check, printing PLAN-OK / PLAN-FAIL lines, and
    * returns (check name, passed) in check order. The small-query cap is
    * pinned to 0 for the duration (check 15 raises it for itself) and
    * restored afterwards. */
  def run(spark: SparkSession): Seq[(String, Boolean)] = {
    val capKey = "spark.graft.smallQueryMaxPostings"
    val oldCap = spark.conf.getOption(capKey)
    // plan asserts describe the at-scale DISTRIBUTED shapes; the driver
    // fast path would collapse small queries into a LocalRelation
    spark.conf.set(capKey, "0")
    try runChecks(spark)
    finally oldCap match {
      case Some(v) => spark.conf.set(capKey, v)
      case None => spark.conf.unset(capKey)
    }
  }

  private def runChecks(spark: SparkSession): Seq[(String, Boolean)] = {
    val results = Seq.newBuilder[(String, Boolean)]
    def check(name: String, cond: Boolean, detail: => String): Unit = {
      if (cond) println(s"PLAN-OK   $name")
      else println(s"PLAN-FAIL $name\n$detail")
      results += name -> cond
    }
    val dir = "/root/testdata/sf0.001"
    val idx = graft.api.Tables.documentsIndex(spark, dir)
    println("EXPLAIN-START")

    // 1. the kernel's own block scan pushes its term IN into parquet
    val p1 = plan(idx.blockRows(Seq("spark", "join")))
    check("postings term-IN pushdown", p1.contains("PushedFilters: [In(term"), p1)

    // 2. documents scan prunes columns + pushes the id filter
    val p2 = plan(graft.api.Tables.table(spark, dir, "documents")
      .select("doc_id", "text").where(col("doc_id") < 10))
    check("documents pruned scan",
      p2.contains("LessThan(doc_id") && p2.contains("ReadSchema") &&
        !p2.contains("lang"), p2)

    // 3. suffix expansion reads terms_rev with a StartsWith pushed filter
    val p3 = plan(idx.termsRev.where(col("rterm").startsWith("wo")))
    check("terms_rev suffix pushdown", p3.contains("StringStartsWith(rterm,wo"), p3)

    // 4. pure-term AND compiles into ONE posting scan (no per-leg join)
    val q4 = graft.operators.Select.eval(idx,
      graft.query.QueryParser.parse("spark +join"), graft.query.ScoreMode.Tf)
    val p4 = plan(q4)
    val scans = p4.linesIterator.count(l => l.contains("FileScan") && l.contains("postings"))
    check("term-AND single kernel scan", scans == 1,
      s"expected 1 postings FileScan, saw $scans\n$p4")

    // 5. drilldown dimension join broadcasts the small side
    val p5 = plan(graft.api.RelationalQueries.drilldownNested(spark, dir))
    check("nested drilldown broadcast join", p5.contains("BroadcastHashJoin"), p5)

    // 6. geo cell index: zcell ranges are pushed into the point scan
    val geoDir = java.nio.file.Files.createTempDirectory("graft-geo").toString + "/pts"
    graft.functions.GeoIndex.writeGeoTable(
      spark.range(1000).select(col("id"),
        (col("id") % 180 - 90).cast("double").as("lat"),
        (col("id") % 360 - 180).cast("double").as("lon")),
      "lat", "lon", geoDir, numFiles = 4)
    val p6 = plan(graft.functions.GeoIndex.inCircleIndexed(
      spark.read.parquet(geoDir), col("lat"), col("lon"), col("zcell"),
      35.0, 139.0, 500000.0))
    check("geo zcell range pushdown",
      p6.contains("PushedFilters") && p6.contains("zcell"), p6)

    // 7. suggest co-occurrence prunes postings with ONE bucket IN + range
    //    filter (data, not a per-bucket OR expression chain)
    val p7 = plan(graft.operators.Suggest.suggest(idx, "window", k = 5, maxDocs = 200))
    check("suggest bucket-IN pushdown",
      p7.contains("In(bucket") && p7.contains("max_doc") &&
        p7.split("bucket").length - 1 <= 8, p7)

    // 8. IVF+PQ candidate pass: list_id IN pushed into the code scan and
    //    NO float column in the ReadSchema — the ADC pass must cost m ints
    //    per row, never dim floats
    val ivfpqDir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString + "/idx"
    graft.ml.AnnIndex.build(
      graft.api.Tables.table(spark, dir, "embeddings"),
      "vec_id", "embedding", ivfpqDir, nlist = 8, payload = graft.ml.AnnIndex.Pq(8, 16))
    val q8 = Array.tabulate(64)(i => (i % 7 - 3).toFloat)
    val p8 = plan(graft.ml.AnnIndex.candidates(spark, ivfpqDir, q8, nprobe = 3))
    check("ivfpq code-only pruned candidate scan",
      p8.contains("In(list_id") && !p8.contains("vec:array"), p8)

    // 9. bucketed co-located join: both sides pre-bucketed on doc_id with
    //    the same spec -> sort-merge join with ZERO Exchange. Broadcast is
    //    disabled for the assert — at 100 TB neither side broadcasts, and
    //    the no-shuffle bucketed plan is exactly the shape that matters.
    val bkDir = java.nio.file.Files.createTempDirectory("graft-bk").toString
    val docs9 = graft.api.Tables.table(spark, dir, "documents")
    graft.sources.BucketedTables.writeBucketed(
      docs9.select("doc_id", "lang"), "ec_bk_a", 4, "doc_id", s"$bkDir/a")
    graft.sources.BucketedTables.writeBucketed(
      docs9.select("doc_id", "n_chars"), "ec_bk_b", 4, "doc_id", s"$bkDir/b")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p9 = plan(graft.sources.BucketedTables.colocatedJoin(
      spark, "ec_bk_a", "ec_bk_b", "doc_id"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    check("bucketed co-located join zero-shuffle",
      !p9.contains("Exchange") && p9.contains("SortMergeJoin"), p9)

    // 10. as-of join: ONE hash exchange on the key (the union+window
    //     shape) — never a broadcast nested loop, never a second shuffle
    val ev10 = graft.api.Tables.table(spark, dir, "events")
    val l10 = ev10.where(col("event_type") === "click")
      .select("user_id", "ts", "event_id")
    val r10 = ev10.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("pid"))
    val p10 = plan(graft.operators.AsofJoin.asof(
      l10, r10, Seq("user_id"), "ts", Seq("pid")))
    val exchanges10 = p10.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    check("asof join single hash shuffle",
      exchanges10 == 1 && !p10.contains("BroadcastNestedLoopJoin") &&
        !p10.contains("CartesianProduct"),
      s"expected 1 hash Exchange, saw $exchanges10\n$p10")

    // 11. anchored regexp pushes its literal prefix into the dictionary
    //     scan as a StartsWith (row-group pruning on the sorted terms
    //     table); the rlike survives as a post-filter only
    val p11 = plan(idx.regexpDictionary("^qu.*y$"))
    check("regexp literal-prefix dictionary pushdown",
      p11.contains("StringStartsWith(term,qu"), p11)

    // 12. bloom decontamination: the corpus scan carries a foldable
    //     might_contain filter (codegen'd, zero-exchange prefilter) — the
    //     eval set never appears as a broadcast exact set on that path
    val p12 = plan(graft.api.DataOpsQueries.decontaminateBloomQ(spark, dir))
    check("bloom decontaminate might_contain prefilter",
      p12.contains("might_contain"), p12)

    // 13. SAME candidate scan with live delete tombstones: the gen filter
    //     must ride as one narrow column + a vec_id-keyed join — floats
    //     still never enter the candidate pass, and the list_id IN
    //     pushdown survives the join
    graft.ml.AnnIndex.delete(spark, ivfpqDir, Seq(2L, 4L))
    val p13 = plan(graft.ml.AnnIndex.candidates(spark, ivfpqDir, q8, nprobe = 3))
    check("ivfpq tombstoned candidate scan stays code-only",
      p13.contains("In(list_id") && !p13.contains("vec:array") &&
        p13.contains("dgen"), p13)

    // 14. indexed regexp: the mark-bracketed gram phrase plans the same
    //     pruned postings scan (term IN over the literal's grams + the
    //     begin mark) — no dictionary scan, no full-corpus pass before
    //     the rlike confirm
    val rxIdx = graft.api.Tables.documentsRegexpIndex(spark, dir)
    val p14 = plan(rxIdx.searchRegexpGrams("\\Aspark").get)
    check("regexp-grams anchored phrase pruned scan",
      p14.contains("In(term") && p14.contains("￯"), p14)

    // 15. under the small-query cap a term select pages on the driver: its
    //     match set is a LocalRelation already, so is the page — no
    //     range-partition Exchange and no Sort. The check sets the default
    //     cap itself, on a fresh handle (the cap is read once per handle).
    spark.conf.set("spark.graft.smallQueryMaxPostings",
      graft.index.GraftIndex.DefaultSmallQueryMaxPostings.toString)
    val q15 =
      try graft.operators.Select.select(graft.index.GraftIndex(spark, idx.path),
        graft.operators.Select.Request("spark"))
      finally spark.conf.set("spark.graft.smallQueryMaxPostings", "0")
    val p15 = plan(q15)
    val local15 = q15.queryExecution.optimizedPlan match {
      case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => r.data.nonEmpty
      case _ => false
    }
    check("driver-path select pages a LocalRelation",
      local15 && !p15.contains("Exchange") && !p15.contains("Sort"),
      s"${q15.queryExecution.optimizedPlan}\n$p15")

    // 16. a mutated index reads each table in ONE scan: on a 3-segment
    //     index the term-IN postings scan and the docs scan each plan one
    //     parquet FileScan over every segment, the term IN pushed into it
    val segPath = java.nio.file.Files.createTempDirectory("graft-segs").toString + "/idx"
    val docs16 = graft.api.Tables.table(spark, dir, "documents").select("doc_id", "text")
    val cfg16 = graft.index.IndexConfig(tokenizer = "TokenBigram")
    graft.index.IndexBuilder.build(spark, docs16.where(col("doc_id") < 200),
      "doc_id", "text", segPath, cfg16)
    for ((lo, hi) <- Seq((200, 350), (350, 500)))
      graft.streaming.IncrementalIndex.appendSegment(spark, segPath,
        docs16.where(col("doc_id") >= lo && col("doc_id") < hi), "doc_id", "text",
        s"seg-$lo", cfg16)
    val idx16 = graft.index.GraftIndex(spark, segPath)
    def fileScans(p: String) = p.linesIterator.count(_.contains("FileScan parquet"))
    val p16 = plan(idx16.blockRows(Seq("spark", "join")))
    val d16 = plan(idx16.docs)
    check("3-segment index: one postings scan, one docs scan",
      idx16.meta.dataSegments.size == 3 && fileScans(p16) == 1 &&
        p16.contains("PushedFilters: [In(term") && fileScans(d16) == 1,
      s"segments ${idx16.meta.dataSegments}\n$p16\n$d16")

    // 17. tombstones ride the broadcast: after a delete and an upsert on
    //     the same index, the distributed term-AND plan still has ONE
    //     parquet FileScan, over postings, and reads no delete segment
    graft.streaming.IncrementalIndex.delete(spark, segPath, Seq(3L, 250L))
    graft.streaming.IncrementalIndex.upsert(spark, segPath,
      docs16.where(col("doc_id") === 120L), "doc_id", "text", "seg-ups", cfg16)
    val idx17 = graft.index.GraftIndex(spark, segPath)
    val p17 = plan(graft.operators.Select.eval(idx17,
      graft.query.QueryParser.parse("spark +join"), graft.query.ScoreMode.Tf))
    val dels17 = idx17.meta.deleteSegments
    check("tombstoned term-AND: one postings scan, tombstones broadcast",
      dels17.size == 2 && fileScans(p17) == 1 &&
        p17.linesIterator.exists(l => l.contains("FileScan parquet") && l.contains("postings")) &&
        !dels17.exists(p17.contains),
      s"delete segments $dels17\n$p17")

    // 18. the build writes terms with one exchange, its groupBy, and
    //     terms_rev with none: it sorts the terms files it reads back
    def exchanges(p: String) = p.linesIterator.count(_.contains("Exchange"))
    val p18 = plan(graft.index.SegmentWriter.termsOf(
      graft.index.SegmentWriter.read(spark, Seq(segPath -> 0), "postings"), 4))
    val r18 = plan(graft.index.SegmentWriter.termsRevOf(
      graft.index.SegmentWriter.read(spark, Seq(segPath -> 0), "terms")))
    check("segment write: terms one exchange, terms_rev none",
      exchanges(p18) == 1 && exchanges(r18) == 0, s"$p18\n$r18")

    println("EXPLAIN-END")
    results.result()
  }
}
