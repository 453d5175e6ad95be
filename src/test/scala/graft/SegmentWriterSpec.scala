package graft

import java.io.File

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.analyzer.Analyzers
import graft.corpus.WebCorpus
import graft.index._
import graft.query.{MatchMode, ScoreMode}
import graft.streaming.IncrementalIndex

/** The one segment writer and its stats pass, through the five writes that
  * use them: build, token-column build, append, compact, partial compact.
  * Covers input without tokens, listener and job cleanup on a failed
  * build, the caller's job group on every build job, stage-granular resume
  * in any state the concurrent docs stage leaves, and stats that equal a
  * fresh count of each dir. */
class SegmentWriterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft-segw").toString
  private val cfg = IndexConfig(tokenizer = "TokenBigram", bucketBits = 6)
  private val nBase = 200

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  private def searchIds(idx: GraftIndex, term: String): Set[Long] =
    ids(idx.searchTerms(Seq(term), MatchMode.Any, ScoreMode.Bm25()))

  /** SegStats of a segment dir counted on the driver from its raw rows */
  private def freshStats(indexPath: String, name: String): SegStats = {
    val dir = SegmentCatalog.segmentDir(indexPath, name)
    val docIds = spark.read.parquet(s"$dir/docs").select($"doc_id").as[Long].collect()
    val blocks = spark.read.parquet(s"$dir/postings")
      .select($"cnt".cast("long"), $"payload_len".cast("long")).as[(Long, Long)].collect()
    SegStats(name, docIds.length.toLong,
      if (docIds.isEmpty) Long.MaxValue else docIds.min,
      if (docIds.isEmpty) Long.MinValue else docIds.max,
      blocks.map(_._1).sum, blocks.map(_._2).sum)
  }

  private def assertExactStats(idx: GraftIndex): Unit = {
    val m = idx.meta
    assert(m.segStats.map(_.name) == m.dataSegments)
    m.segStats.foreach(s => assert(s == freshStats(idx.path, s.name), s.name))
    assert(m.segStats.map(_.nPostings).sum == m.totalPostings)
    assert(m.segStats.map(_.payloadBytes).sum == m.totalPayloadBytes)
  }

  /** (name, mtime) of a table's files: unchanged iff the stage was skipped */
  private def fileStamps(dir: String): Map[String, Long] =
    new File(dir).listFiles().map(f => f.getName -> f.lastModified()).toMap

  private def dropManifests(path: String): Unit =
    new File(path).listFiles()
      .filter(f => f.getName.startsWith("manifest") || f.getName.startsWith(".manifest"))
      .foreach(_.delete())

  private def deleteDir(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteDir)
    f.delete()
  }

  test("input with no tokens commits: build, append and upsert") {
    val term = "spark"
    // build of an empty frame and of all-blank texts
    val empty = IndexBuilder.build(spark, Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", s"$tmp/empty", cfg)
    val blank = IndexBuilder.build(spark,
      (0L until 20L).map(i => (i, if (i % 2 == 0) "" else "  ")).toDF("doc_id", "text"),
      "doc_id", "text", s"$tmp/blank", cfg)
    for (idx <- Seq(empty, blank)) {
      assert(idx.meta.nDocs == 0 && idx.meta.avgdl == 0.0 && idx.meta.totalPostings == 0)
      assert(idx.meta.segStats == Seq(SegStats(".", 0, Long.MaxValue, Long.MinValue, 0, 0)))
      assert(searchIds(idx, term).isEmpty)
    }

    // append of a batch of blank texts: commits an empty segment
    val p = s"$tmp/base"
    val corpus = (0L until nBase).map(i => i -> WebCorpus.text(i, 42L)._1)
    val base = IndexBuilder.build(spark, corpus.toDF("doc_id", "text"), "doc_id", "text", p, cfg)
    val hits = searchIds(base, term)
    assert(hits.nonEmpty)
    val app = IncrementalIndex.appendSegment(spark, p,
      (nBase.toLong until nBase + 5L).map(i => (i, " ")).toDF("doc_id", "text"),
      "doc_id", "text", "seg-blank", cfg)
    assert(app.meta.segments == Seq(".", "seg-blank"))
    assert(app.meta.nDocs == nBase && app.meta.avgdl == base.meta.avgdl)
    assert(searchIds(app, term) == hits)
    assertExactStats(app)

    // upsert of doc 5 to "": the delete and the (empty) append commit together
    val victim = 5L
    val oldTerms = Analyzers.byName(cfg.tokenizer).tokenize(corpus(victim.toInt)._2)
      .map(_.term).distinct.toSeq
    assert(oldTerms.nonEmpty && oldTerms.forall(t => searchIds(app, t).contains(victim)))
    val up = IncrementalIndex.upsert(spark, p, Seq((victim, "")).toDF("doc_id", "text"),
      "doc_id", "text", "seg-up", cfg)
    assert(up.meta.segments == Seq(".", "seg-blank", "seg-up"))
    assert(up.meta.nDocs == nBase - 1)
    assert(oldTerms.forall(t => !searchIds(up, t).contains(victim)))
    assert(searchIds(up, term) == hits - victim)
    assertExactStats(up)
  }

  test("a failed build removes its BuildListener") {
    val sc = spark.sparkContext
    def registered: Int = {
      ListenerBusDrain.drain(sc)
      ListenerBusDrain.listeners[BuildListener](sc).size
    }
    val before = registered
    // descending ids in one partition break the builder's precondition at
    // the second doc, while the docs branch, which runs beside postings,
    // still has every doc to count: the build must not return before it
    val n = 100000L
    val desc = spark.range(0, n, 1, 1)
      .select((lit(n) - $"id").as("doc_id"),
        repeat(lit("spark search fulltext engine "), 10).as("text"))
    intercept[Exception] {
      IndexBuilder.build(spark, desc, "doc_id", "text", s"$tmp/failed", cfg)
    }
    assert(registered == before)
    assert(sc.statusTracker.getActiveJobIds().isEmpty, "a Spark job outlived the failed build")
  }

  test("every job a build launches keeps the caller's job group") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup("g", "a build under the caller's job group")
    try {
      IndexBuilder.build(spark, WebCorpus.generate(spark, 200, 4), "doc_id", "text",
        s"$tmp/grouped", cfg)
      ListenerBusDrain.drain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val seen = groups.asScala.toSeq
    assert(seen.nonEmpty && seen.forall(_ == "g"), seen)
  }

  test("a base build resumes from its committed stages") {
    val docs = WebCorpus.generate(spark, 300, 4)
    val p = s"$tmp/resume"
    val first = IndexBuilder.build(spark, docs, "doc_id", "text", p, cfg)
    val answer = (first.meta.copy(), searchIds(first, "spark"),
      first.searchTerms(Seq("spark", "crawl"), MatchMode.Any, ScoreMode.Bm25()).collect().toSet)
    // docs runs beside the other three, so it can commit before any of them
    for (lost <- Seq(Seq("docs"), Seq("docs", "terms", "terms_rev"),
        Seq("postings", "terms", "terms_rev"))) {
      val kept = SegmentWriter.Tables.filterNot(lost.contains)
      val stamps = kept.map(t => t -> fileStamps(s"$p/$t")).toMap
      dropManifests(p)
      lost.foreach(t => deleteDir(new File(s"$p/$t")))
      val again = IndexBuilder.build(spark, docs, "doc_id", "text", p, cfg)
      kept.foreach(t =>
        assert(fileStamps(s"$p/$t") == stamps(t), s"$t rewritten after losing $lost"))
      lost.foreach(t => assert(new File(s"$p/$t/_SUCCESS").exists(), t))
      assert(again.meta == answer._1)
      assert(searchIds(again, "spark") == answer._2)
      assert(again.searchTerms(Seq("spark", "crawl"), MatchMode.Any, ScoreMode.Bm25())
        .collect().toSet == answer._3)
    }
  }

  test("an append whose base commit was lost re-runs under the same name and commits once") {
    val all = WebCorpus.generate(spark, nBase + 30, 4)
    val p = s"$tmp/append-resume"
    IndexBuilder.build(spark, all.where($"doc_id" < nBase), "doc_id", "text", p, cfg)
    val batch = all.where($"doc_id" >= nBase)
    IncrementalIndex.appendSegment(spark, p, batch, "doc_id", "text", "seg-a", cfg)
    val fs = SegmentCatalog.fileSystem(spark, p)
    val versions = SegmentCatalog.listVersions(fs, p)
    val segPostings = fileStamps(s"$p/seg-a/postings")
    // lose the base manifest commit: the newest manifest goes
    val newest = f"manifest-${versions.last}%06d.json"
    new File(p, newest).delete()
    new File(p, s".$newest.crc").delete()
    assert(SegmentCatalog.readMeta(fs, p).segments == IndexMeta.BaseTables)

    val again = IncrementalIndex.appendSegment(spark, p, batch, "doc_id", "text", "seg-a", cfg)
    assert(SegmentCatalog.listVersions(fs, p) == versions, "exactly one commit")
    assert(fileStamps(s"$p/seg-a/postings") == segPostings, "segment postings rewritten")
    assert(again.meta.segments == Seq(".", "seg-a"))
    assert(again.meta.nDocs == nBase + 30)
    assertExactStats(again)
  }

  test("an append under a name the head already lists commits nothing") {
    val all = WebCorpus.generate(spark, 120, 4)
    val p = s"$tmp/append-twice"
    IndexBuilder.build(spark, all.where($"doc_id" < 100), "doc_id", "text", p, cfg)
    val batch = all.where($"doc_id" >= 100)
    IncrementalIndex.appendSegment(spark, p, batch, "doc_id", "text", "seg-a", cfg)
    val fs = SegmentCatalog.fileSystem(spark, p)
    val versions = SegmentCatalog.listVersions(fs, p)
    val segPostings = fileStamps(s"$p/seg-a/postings")

    val again = IncrementalIndex.appendSegment(spark, p, batch, "doc_id", "text", "seg-a", cfg)
    assert(SegmentCatalog.listVersions(fs, p) == versions, "no commit")
    assert(fileStamps(s"$p/seg-a/postings") == segPostings, "segment postings rewritten")
    assert(again.meta.segments == Seq(".", "seg-a"))
    assert(again.meta.nDocs == 120 && again.docs.count() == 120)
    assertExactStats(again)
  }

  test("compactPartial: each fold's stats equal a fresh count, around a kept segment") {
    val p = s"$tmp/folds"
    val all = WebCorpus.generate(spark, 500, 4)
    def slice(lo: Long, hi: Long) = all.where($"doc_id" >= lo && $"doc_id" < hi)
    IndexBuilder.build(spark, slice(0, 200), "doc_id", "text", p, cfg)
    IncrementalIndex.appendSegment(spark, p, slice(200, 210), "doc_id", "text", "seg-a", cfg)
    IncrementalIndex.appendSegment(spark, p, slice(210, 220), "doc_id", "text", "seg-b", cfg)
    IncrementalIndex.appendSegment(spark, p, slice(220, 480), "doc_id", "text", "seg-big", cfg)
    IncrementalIndex.appendSegment(spark, p, slice(480, 490), "doc_id", "text", "seg-c", cfg)
    IncrementalIndex.appendSegment(spark, p, slice(490, 500), "doc_id", "text", "seg-d", cfg)
    IncrementalIndex.delete(spark, p, Seq(205L, 495L))
    val before = GraftIndex(spark, p)
    val keepAt = before.meta.segStats.find(_.name == "seg-a").get.nPostings * 4
    assert(before.meta.segStats.find(_.name == "seg-big").get.nPostings > keepAt)

    val pc = IncrementalIndex.compactPartial(spark, p, cfg, minKeepPostings = keepAt)
    val segs = pc.meta.segments
    assert(segs.length == 4 && segs(0) == "." && segs(2) == "seg-big", s"got $segs")
    assert(segs(1).startsWith("fold-m") && segs(3).startsWith("fold-m") && segs(1) != segs(3))
    assert(pc.meta.nDocs == 498)
    assertExactStats(pc)
    assert(pc.meta.segStats(1).minDoc == 200 && pc.meta.segStats(1).maxDoc == 219)
    assert(pc.meta.segStats(3).minDoc == 480 && pc.meta.segStats(3).maxDoc == 499)
  }

  test("compactPartial of a manifest without segStats comes out with exact stats") {
    val p = s"$tmp/legacy"
    val all = WebCorpus.generate(spark, nBase + 40, 4)
    IndexBuilder.build(spark, all.where($"doc_id" < nBase), "doc_id", "text", p, cfg)
    IncrementalIndex.appendSegment(spark, p,
      all.where($"doc_id".between(nBase, nBase + 19)), "doc_id", "text", "seg-a", cfg)
    IncrementalIndex.appendSegment(spark, p,
      all.where($"doc_id" >= nBase + 20), "doc_id", "text", "seg-b", cfg)
    IncrementalIndex.delete(spark, p, Seq(nBase + 3L))
    // strip segStats from the newest manifest: a legacy artifact
    val mf = new File(p).listFiles()
      .filter(_.getName.matches("manifest-\\d+\\.json")).maxBy(_.getName)
    val j = org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8"))
    java.nio.file.Files.write(mf.toPath, org.json4s.jackson.JsonMethods.pretty(
      j.removeField { case (k, _) => k == "segStats" }).getBytes("UTF-8"))
    new File(mf.getParent, s".${mf.getName}.crc").delete()
    assert(GraftIndex(spark, p).meta.segStats.isEmpty)

    val pc = IncrementalIndex.compactPartial(spark, p, cfg, minKeepPostings = 10000L)
    assert(pc.meta.segments.length == 2 && pc.meta.segments.head == ".")
    assert(pc.meta.nDocs == nBase + 39)
    assertExactStats(pc)
  }

  /** the column names in the parquet footer of each part file of `dir` */
  private def footerColumns(dir: String): Seq[Seq[String]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), conf))
      try r.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
      finally r.close()
    }
  }

  test("postings files hold no seg_ord; segments that still hold one read the same") {
    val p = s"$tmp/no-seg-ord"
    val all = WebCorpus.generate(spark, 240, 4)
    IndexBuilder.build(spark, all.where($"doc_id" < 200), "doc_id", "text", p, cfg)
    IncrementalIndex.appendSegment(spark, p, all.where($"doc_id".between(200, 219)),
      "doc_id", "text", "seg-a", cfg)
    IncrementalIndex.appendSegment(spark, p, all.where($"doc_id" >= 220),
      "doc_id", "text", "seg-b", cfg)
    val pc = IncrementalIndex.compactPartial(spark, p, cfg, minKeepPostings = 1L << 40)
    assert(pc.meta.segments.exists(_.startsWith("fold-m")), pc.meta.segments)
    // an upsert: its segment's postings are live only because its seg_ord
    // is above the tombstone's generation
    val victim = 7L
    val up = IncrementalIndex.upsert(spark, p, Seq((victim, "zzqnew spark")).toDF("doc_id", "text"),
      "doc_id", "text", "seg-up", cfg)
    val dirs = up.meta.dataSegments.map(SegmentCatalog.segmentDir(p, _))
    assert(up.meta.dataSegments.last == "seg-up", up.meta.dataSegments)
    for (d <- dirs; cols <- footerColumns(s"$d/postings")) {
      assert(cols.nonEmpty && !cols.contains("seg_ord"), s"$d: $cols")
    }
    def answers(idx: GraftIndex) = Seq("spark", "zzqnew", "crawl").map(t =>
      idx.searchTerms(Seq(t), MatchMode.Any, ScoreMode.Bm25()).collect().toSet)
    val before = answers(GraftIndex(spark, p))
    assert(before(1).map(_.getLong(0)) == Set(victim))
    assert(before(0).map(_.getLong(0)).contains(victim))

    // the layout every segment had before: each postings file carries a
    // stored seg_ord of 0, whatever the segment's place in the manifest
    for (d <- dirs) {
      val old = s"$d/postings-old"
      spark.read.parquet(s"$d/postings").withColumn("seg_ord", lit(0))
        .write.parquet(old)
      deleteDir(new File(s"$d/postings"))
      assert(new File(old).renameTo(new File(s"$d/postings")))
      assert(footerColumns(s"$d/postings").forall(_.contains("seg_ord")))
    }
    assert(answers(GraftIndex(spark, p)) == before)
  }

  test("measure spends the same Spark jobs on one dir as on many") {
    val p = s"$tmp/measure"
    val all = WebCorpus.generate(spark, 130, 4)
    IndexBuilder.build(spark, all.where($"doc_id" < 100), "doc_id", "text", p, cfg)
    for (k <- 0 until 3)
      IncrementalIndex.appendSegment(spark, p,
        all.where($"doc_id" >= 100 + 10 * k && $"doc_id" < 110 + 10 * k),
        "doc_id", "text", s"seg-$k", cfg)
    val dirs = GraftIndex(spark, p).meta.dataSegments
      .map(s => s -> SegmentCatalog.segmentDir(p, s))
    // an appended segment is its four tables: no manifest or build metrics
    for (k <- 0 until 3)
      assert(new File(s"$p/seg-$k").list().toSet ==
        Set("postings", "terms", "terms_rev", "docs"), s"seg-$k")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsOf(ds: Seq[(String, String)]): (Int, Measured) = {
      ListenerBusDrain.drain(spark.sparkContext)
      jobs.set(0)
      val m = SegmentWriter.measure(spark, ds)
      ListenerBusDrain.drain(spark.sparkContext)
      (jobs.get(), m)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (one, m1) = jobsOf(dirs.take(1))
      val (many, mAll) = jobsOf(dirs)
      assert(dirs.length == 4 && one == many, s"1 dir: $one jobs, ${dirs.length} dirs: $many")
      // one query over both tables: at most a shuffle-map job and a
      // result job
      assert(many <= 2, s"$many jobs")
      assert(m1.segs == mAll.segs.take(1))
      assert(mAll.segs.map(_.name) == dirs.map(_._1))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
