package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index.{GraftIndex, IndexBuilder, IndexConfig, PostingBlockRow}
import graft.streaming.IncrementalIndex

/** A small select's block collect reads the postings with the handle's
  * own reader (PostingsReader), not a planned scan. Its rows must be
  * exactly the term-IN scan's (`GraftIndex.blockRows`): every field and
  * every payload byte, on a clean, an appended, a sectioned, a tombstoned
  * and a legacy (no `max_gtf`) index, for random term sets with absent
  * terms, more than 10 terms and non-ASCII terms. And its parquet filter
  * must still prune: on postings files of many row groups it reads fewer
  * rows than the table holds. */
class PostingsReaderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** letters only, some of them outside ASCII */
  private val vocab = (0 until 30).map(i => s"w${('a' + i / 26).toChar}${('a' + i % 26).toChar}") ++
    Seq("café", "straße", "привет", "λόγος", "naïve", "ñandú", "größe", "żółw")
  /** `n` docs from id `from`: 3-12 words each, head words far more common */
  private def texts(rnd: scala.util.Random, n: Int, from: Long): Seq[(Long, String)] =
    (0 until n).map { i =>
      val words = Seq.fill(3 + rnd.nextInt(10))(
        vocab(math.min(vocab.size - 1, (math.abs(rnd.nextGaussian()) * 12).toInt)))
      (from + i, words.mkString(" "))
    }

  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft-reader").toString
  private val cfg = IndexConfig(bucketBits = 5)
  private def build(p: String, rows: Seq[(Long, String)]): Unit =
    IndexBuilder.build(spark, rows.toDF("doc_id", "text"), "doc_id", "text", p, cfg)

  private lazy val cleanPath: String = {
    val p = s"$tmp/clean"
    build(p, texts(new scala.util.Random(21), 400, 0L))
    p
  }
  /** a base and two appended segments */
  private lazy val appendedPath: String = {
    val p = s"$tmp/appended"
    val rnd = new scala.util.Random(22)
    build(p, texts(rnd, 200, 0L))
    for (k <- 1 to 2)
      IncrementalIndex.appendSegment(spark, p,
        texts(rnd, 100, 100L + 100L * k).toDF("doc_id", "text"), "doc_id", "text", s"seg-$k", cfg)
    p
  }
  private lazy val sectionedPath: String = {
    val p = s"$tmp/sectioned"
    val rnd = new scala.util.Random(23)
    val rows = texts(rnd, 300, 0L).zip(texts(rnd, 300, 0L)).map { case ((id, t), (_, b)) =>
      (id, t.split(' ').take(3).mkString(" "), b)
    }
    IndexBuilder.buildSectioned(spark, rows.toDF("doc_id", "title", "body"), "doc_id",
      Seq("title", "body"), p, cfg)
    p
  }
  /** deletes, a resurrected id and replaced docs */
  private lazy val tombstonedPath: String = {
    val p = s"$tmp/tombstoned"
    val rnd = new scala.util.Random(24)
    build(p, texts(rnd, 300, 0L))
    IncrementalIndex.delete(spark, p, Seq(3L, 40L, 77L, 150L, 299L))
    IncrementalIndex.upsert(spark, p,
      (texts(rnd, 3, 0L).map(_._2) zip Seq(77L, 120L, 200L)).map(_.swap).toDF("doc_id", "text"),
      "doc_id", "text", "ups-1", cfg)
    p
  }
  /** a base and an appended segment whose postings were written before
    * format 2: no max_gtf column (TombstonesSpec reads it the same way),
    * once sid-less and once sectioned */
  private lazy val legacyPaths: Map[Boolean, String] =
    Seq(false, true).map(s => s -> legacy(s)).toMap
  private def legacy(sectioned: Boolean): String = {
    val p = s"$tmp/legacy-$sectioned"
    val rnd = new scala.util.Random(25)
    val rows = texts(rnd, 200, 0L).map { case (id, t) => (id, t, t) }
    val all = rows.toDF("doc_id", "text", "title")
    IndexBuilder.buildSectioned(spark, all.where($"doc_id" < 120), "doc_id",
      if (sectioned) Seq("title", "text") else Seq("text"), p, cfg)
    IncrementalIndex.appendSegment(spark, p, all.where($"doc_id" >= 120),
      "doc_id", "text", "seg-1", cfg)
    val dir = s"$p/seg-1/postings"
    java.nio.file.Files.move(java.nio.file.Paths.get(dir), java.nio.file.Paths.get(s"$dir-v2"))
    spark.read.parquet(s"$dir-v2").drop("max_gtf").write.parquet(dir)
    p
  }

  /** a block as comparable values: every field, the payload's bytes */
  private def key(b: PostingBlockRow) =
    (b.term, b.bucket, b.blk, b.min_doc, b.max_doc, b.cnt, b.max_tf, b.max_gtf, b.min_dl,
      b.tf_sum, b.payload_len, b.payload.toSeq, b.seg_ord)
  private def multiset(bs: Iterable[PostingBlockRow]) =
    bs.groupBy(key).map { case (k, v) => k -> v.size }

  private def scanned(idx: GraftIndex, ts: Seq[String]): Seq[PostingBlockRow] =
    idx.blockRows(ts).as[PostingBlockRow](GraftIndex.blockEncoder).collect().toSeq

  /** random term sets over the dictionary of `idx`: 1 to 25 terms, some
    * absent from it */
  private def termSets(idx: GraftIndex, seed: Long): Seq[Seq[String]] = {
    val dict = idx.terms.select($"term").distinct().as[String].collect().sorted.toSeq
    val rnd = new scala.util.Random(seed)
    val absent = Seq("zzznosuchterm", "ébsent", "нет")
    Seq(dict, dict.filter(_.exists(_ > 127)), absent) ++ (0 until 12).map { _ =>
      rnd.shuffle(dict).take(1 + rnd.nextInt(25)) ++ absent.take(rnd.nextInt(3))
    }
  }

  test("the handle's reader returns exactly the term-IN scan's blocks") {
    val paths = Seq(cleanPath, appendedPath, sectionedPath, tombstonedPath,
      legacyPaths(false), legacyPaths(true))
    for ((path, i) <- paths.zipWithIndex) {
      val idx = GraftIndex(spark, path)
      val sets = termSets(idx, 31L + i)
      assert(sets.exists(_.size > 10) && sets.exists(_.exists(_.exists(_ > 127))), path)
      val found = sets.map { ts =>
        val want = scanned(idx, ts)
        val got = idx.collectBlocks(ts, Long.MaxValue)
        assert(got.isDefined, s"$path, $ts")
        assert(multiset(got.get) == multiset(want), s"$path, $ts")
        want.size
      }
      assert(found.count(_ > 0) == sets.size - 1, s"$path: only the absent set reads nothing")
    }
    // the cases the spec is for are there
    val appended = GraftIndex(spark, appendedPath).collectBlocks(vocab.take(3), Long.MaxValue).get
    assert(appended.map(_.seg_ord).toSet == Set(0, 1, 2))
    for (sectioned <- Seq(false, true)) {
      val legacy = GraftIndex(spark, legacyPaths(sectioned)).collectBlocks(vocab, Long.MaxValue).get
      val (old, current) = legacy.partition(_.seg_ord == 1)
      assert(old.nonEmpty && current.nonEmpty)
      assert(old.forall(b => b.max_gtf == (if (sectioned) -1 else b.max_tf)), s"$sectioned")
    }
  }

  test("the reader's parquet filter prunes row groups: it reads fewer rows than the table") {
    val p = s"$tmp/row-groups"
    // small row groups (a writer checks their size every 100 rows) and
    // pages, and small posting blocks, so each postings file holds several
    val small = Seq("parquet.block.size" -> "1024", "parquet.page.size" -> "512")
    small.foreach { case (k, v) => spark.conf.set(k, v) }
    try IndexBuilder.build(spark, texts(new scala.util.Random(26), 3000, 0L).toDF("doc_id", "text"),
      "doc_id", "text", p, IndexConfig(bucketBits = 5, blockSize = 4))
    finally small.foreach { case (k, _) => spark.conf.unset(k) }
    val files = new java.io.File(s"$p/postings").listFiles().filter(_.getName.endsWith(".parquet"))
    val rowGroups = files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toURI), spark.sparkContext.hadoopConfiguration)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getRowGroups.size finally reader.close()
    }
    assert(rowGroups.max > 4, rowGroups.toSeq)

    val idx = GraftIndex(spark, p)
    val tableRows = idx.postings.count()
    val read = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // a term's blocks sit in a row group or two of each file; the row
      // groups of the other terms are pruned
      for ((ts, bound) <- Seq(Seq(vocab(20)) -> tableRows / 3,
          Seq("café", vocab(25)) -> tableRows * 3 / 4, vocab.drop(20).take(11) -> tableRows)) {
        org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
        read.set(0L)
        val got = idx.collectBlocks(ts, Long.MaxValue).get
        org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
        assert(multiset(got) == multiset(scanned(idx, ts)), ts)
        assert(got.nonEmpty && read.get >= got.length && read.get < bound,
          s"$ts: ${read.get} rows read for ${got.length} blocks of $tableRows")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
