package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Per-dir stats from [[SegmentWriter.measure]]: one SegStats per dir, in
  * the order asked, plus the Σdl behind avgdl and the block count the
  * build metrics report. */
final case class Measured(segs: Seq[SegStats], sumDl: Long, blocks: Long) {
  def nDocs: Long = segs.map(_.nDocs).sum
  def nPostings: Long = segs.map(_.nPostings).sum
  def payloadBytes: Long = segs.map(_.payloadBytes).sum
  def avgdl: Double = if (nDocs == 0) 0.0 else sumDl.toDouble / nDocs
}

/** The one segment writer and the one stats pass behind every index
  * write: a base build, a token-column build, an append, a compact and
  * each fold of a partial compact. A caller only chooses where its posting
  * runs and doc lengths come from. A fresh base commits through
  * [[commitBase]], every other write through IncrementalIndex.commit.
  *
  * A segment dir holds four tables, written in this order, each behind
  * its own _SUCCESS marker so a re-run skips what already committed:
  *
  *   postings   runs shuffled by (term, bucket), sorted by min_doc and
  *              merged into fixed-size blocks (IndexBuilder.mergeRuns)
  *   terms      df/total_tf/max_tf per term, term-sorted for prefix
  *              row-group pruning
  *   terms_rev  terms by reversed term: the role of groonga's
  *              reversed-key patricia trie (lib/ii.cpp:10989 suffix cursor)
  *   docs       (doc_id, dl)
  */
object SegmentWriter {

  /** the tables of a segment dir, in write order */
  final val Tables: Seq[String] = Seq("postings", "terms", "terms_rev", "docs")

  /** the read schema of each table. A postings table written before
    * format 2 has no max_gtf column, which then reads as null. */
  private val Schemas: Map[String, String] = Map(
    "postings" -> ("term STRING, bucket INT, blk INT, min_doc BIGINT, max_doc BIGINT, " +
      "cnt INT, max_tf INT, max_gtf INT, min_dl INT, tf_sum BIGINT, payload_len INT, " +
      "payload BINARY"),
    "terms" -> "term STRING, df BIGINT, total_tf BIGINT, max_tf INT",
    "terms_rev" -> "rterm STRING, term STRING, df BIGINT",
    "docs" -> "doc_id BIGINT, dl INT")

  /** `table` of the segment dirs `segs`, given as (dir, ordinal), in ONE
    * parquet scan with the table's given schema: no schema-inference job,
    * and one set of splits over every segment. Each row gets its segment's
    * ordinal as `seg_ord`, found from the file it was read from. The keys
    * are raw URI paths on both sides: `_metadata.file_path` spells a local
    * dir `file:/..`, a qualified Path `file:///..`, and both keep `%20`.
    * Plain string ops cost per row about a third of a regexp; a single
    * segment needs no lookup at all. */
  def read(spark: SparkSession, segs: Seq[(String, Int)], table: String): DataFrame = {
    val scan = spark.read.schema(Schemas(table)).parquet(segs.map(s => s"${s._1}/$table"): _*)
    if (segs.size == 1) return scan.withColumn("seg_ord", lit(segs.head._2))
    val ords: Map[String, Int] = segs.map { case (d, o) =>
      SegmentCatalog.fileSystem(spark, d).makeQualified(new Path(d)).toUri.getRawPath -> o
    }.toMap
    val segOrd = udf { (file: String) =>
      // <scheme>:[//<authority>]<seg dir>/<table>/<part file>
      val end = file.lastIndexOf('/', file.lastIndexOf('/') - 1)
      val c = file.indexOf(':')
      val s0 = if (c >= 0 && c < file.indexOf('/')) c + 1 else 0
      val s = if (file.startsWith("//", s0)) file.indexOf('/', s0 + 2) else s0
      ords.getOrElse(file.substring(s, end),
        throw new IllegalStateException(s"$file is in none of the segments read"))
    }
    scan.withColumn("seg_ord", segOrd(col("_metadata.file_path")))
  }

  /** Write the segment at `dir`. `runs` and `docs` are lazy plans: a stage
    * that already committed never evaluates its input. `cfg` carries the
    * block layout (blockSize, withPositions) and the shuffle width. */
  def write(
      spark: SparkSession,
      dir: String,
      runs: Dataset[PostingRunRow],
      docs: DataFrame,
      cfg: IndexConfig,
      sectioned: Boolean): Unit = {
    import spark.implicits._
    val fs = SegmentCatalog.fileSystem(spark, dir)
    val partitions = cfg.shufflePartitions(spark)
    def stage(table: String)(write: => Unit): Unit =
      SegmentCatalog.writeStageIfAbsent(fs, s"$dir/$table") {
        val t0 = System.nanoTime()
        write
        System.err.println(f"[graft-build] $table: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }

    stage("postings") {
      runs.repartition(partitions, $"term", $"bucket")
        .sortWithinPartitions($"term", $"bucket", $"min_doc")
        .mapPartitions(IndexBuilder.mergeRuns(cfg, sectioned))
        .drop("seg_ord") // read assigns it from the file's segment
        .write.mode("overwrite").parquet(s"$dir/postings")
    }
    stage("terms") {
      read(spark, Seq(dir -> 0), "postings")
        .groupBy($"term")
        .agg(sum($"cnt").as("df"), sum($"tf_sum").as("total_tf"),
          max($"max_tf").cast("int").as("max_tf"))
        .repartition(math.max(1, partitions / 4))
        .sortWithinPartitions($"term")
        .write.mode("overwrite").parquet(s"$dir/terms")
    }
    stage("terms_rev") {
      read(spark, Seq(dir -> 0), "terms")
        .select(reverse($"term").as("rterm"), $"term", $"df")
        .repartition(math.max(1, partitions / 4))
        .sortWithinPartitions($"rterm")
        .write.mode("overwrite").parquet(s"$dir/terms_rev")
    }
    stage("docs") {
      docs.write.mode("overwrite").parquet(s"$dir/docs")
    }
  }

  /** Stats of segment dirs given as (name, dir): ONE postings query and
    * ONE docs query however many dirs. A dir with no docs or no postings
    * reads as zero, with the empty doc range (Long.MaxValue,
    * Long.MinValue). */
  def measure(spark: SparkSession, dirs: Seq[(String, String)]): Measured = {
    import spark.implicits._
    if (dirs.isEmpty) return Measured(Nil, 0L, 0L)
    def bySeg(table: String) =
      read(spark, dirs.map(_._2).zipWithIndex, table).groupBy($"seg_ord")
    val p = bySeg("postings")
      .agg(sum($"cnt"), count(lit(1)), sum($"payload_len"))
      .as[(Int, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val d = bySeg("docs")
      .agg(count(lit(1)), min($"doc_id"), max($"doc_id"), sum($"dl"))
      .as[(Int, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val segs = dirs.zipWithIndex.map { case ((name, _), i) =>
      val (_, np, _, pb) = p.getOrElse(i, (i, 0L, 0L, 0L))
      val (_, nd, lo, hi, _) = d.getOrElse(i, (i, 0L, Long.MaxValue, Long.MinValue, 0L))
      SegStats(name, nd, lo, hi, np, pb)
    }
    Measured(segs, d.values.map(_._5).sum, p.values.map(_._3).sum)
  }

  /** Measure the segment written at `dir` and commit it as a fresh
    * one-segment base ("."), with `metrics` plus its block counters. */
  def commitBase(
      spark: SparkSession,
      dir: String,
      cfg: IndexConfig,
      bucketBits: Int,
      sections: Seq[String],
      metrics: Map[String, String]): GraftIndex = {
    val st = measure(spark, Seq("." -> dir))
    val meta = IndexMeta(
      formatVersion = IndexBuilder.CurrentFormatVersion,
      tokenizer = cfg.tokenizer,
      withPositions = cfg.withPositions,
      blockSize = cfg.blockSize,
      bucketBits = bucketBits,
      nDocs = st.nDocs,
      avgdl = st.avgdl,
      totalPostings = st.nPostings,
      totalPayloadBytes = st.payloadBytes,
      segments = IndexMeta.BaseTables,
      sections = if (sections.length > 1) sections else Nil,
      segStats = st.segs)
    SegmentCatalog.commit(SegmentCatalog.fileSystem(spark, dir), dir, meta, metrics ++ Map(
      "postings" -> st.nPostings.toString,
      "blocks" -> st.blocks.toString,
      "payloadBytes" -> st.payloadBytes.toString))
    GraftIndex(spark, dir)
  }
}
