package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  * A segment dir holds four tables, each behind its own _SUCCESS marker
  * so a re-run skips what already committed. They are written as a
  * dependency graph, not a chain: `docs` reads only the caller's input, so
  * its job runs on a second thread beside the postings → terms → terms_rev
  * chain, each of which reads the table before it.
  *
  *   postings   runs shuffled by (term, bucket), sorted by min_doc and
  *              merged into fixed-size blocks (IndexBuilder.mergeRuns)
  *   terms      df/total_tf/max_tf per term, term-sorted within each file
  *              for prefix row-group pruning; the groupBy is its one
  *              exchange
  *   terms_rev  terms by reversed term, sorted within each file of terms
  *              with no exchange: the role of groonga's reversed-key
  *              patricia trie (lib/ii.cpp:10989 suffix cursor)
  *   docs       (doc_id, dl)
  */
object SegmentWriter {

  /** the tables of a segment dir */
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

  /** the read schema of `table` */
  private[graft] def schema(table: String): StructType = StructType.fromDDL(Schemas(table))

  /** `table` of the segment dirs `segs`, given as (dir, ordinal), in ONE
    * parquet scan with the table's given schema: no schema-inference job,
    * and one set of splits over every segment. Each row gets its segment's
    * ordinal as `seg_ord`, found from the file it was read from
    * ([[segOrdOf]]); a single segment needs no lookup at all. */
  def read(spark: SparkSession, segs: Seq[(String, Int)], table: String): DataFrame = {
    val scan = spark.read.schema(Schemas(table)).parquet(segs.map(s => s"${s._1}/$table"): _*)
    if (segs.size == 1) return scan.withColumn("seg_ord", lit(segs.head._2))
    scan.withColumn("seg_ord", udf(segOrdOf(spark, segs)).apply(col("_metadata.file_path")))
  }

  /** The rule that maps a data file of the segment dirs `segs` ((dir,
    * ordinal)) to its segment's ordinal, given the file as a raw URI path
    * (`_metadata.file_path`, or a `PartitionedFile`'s `urlEncodedPath`).
    * The keys are raw URI paths on both sides: such a path spells a local
    * dir `file:/..`, a qualified Path `file:///..`, and both keep `%20`.
    * Plain string ops cost per file about a third of a regexp. */
  private[graft] def segOrdOf(spark: SparkSession, segs: Seq[(String, Int)]): String => Int = {
    val ords: Map[String, Int] = segs.map { case (d, o) =>
      SegmentCatalog.fileSystem(spark, d).makeQualified(new Path(d)).toUri.getRawPath -> o
    }.toMap
    file => {
      // <scheme>:[//<authority>]<seg dir>/<table>/<part file>
      val end = file.lastIndexOf('/', file.lastIndexOf('/') - 1)
      val c = file.indexOf(':')
      val s0 = if (c >= 0 && c < file.indexOf('/')) c + 1 else 0
      val s = if (file.startsWith("//", s0)) file.indexOf('/', s0 + 2) else s0
      ords.getOrElse(file.substring(s, end),
        throw new IllegalStateException(s"$file is in none of the segments read"))
    }
  }

  /** Write the segment at `dir`. `runs` and `docs` are lazy plans: a stage
    * that already committed never evaluates its input. `cfg` carries the
    * block size and the shuffle width; the blocks carry positions and sids
    * when the runs do. */
  def write(
      spark: SparkSession,
      dir: String,
      runs: Dataset[PostingRunRow],
      docs: DataFrame,
      cfg: IndexConfig): Unit = {
    import spark.implicits._
    val fs = SegmentCatalog.fileSystem(spark, dir)
    val partitions = cfg.shufflePartitions(spark)
    def stage(table: String)(write: => Unit): Unit =
      SegmentCatalog.writeStageIfAbsent(fs, s"$dir/$table") {
        val t0 = System.nanoTime()
        write
        System.err.println(f"[graft-build] $table: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }

    // docs reads only the caller's input: its job runs beside the chain
    beside(stage("docs") { docs.write.mode("overwrite").parquet(s"$dir/docs") }) {
      stage("postings") {
        runs.repartition(partitions, $"term", $"bucket")
          .sortWithinPartitions($"term", $"bucket", $"min_doc")
          .mapPartitions(IndexBuilder.mergeRuns(cfg))
          .drop("seg_ord") // read assigns it from the file's segment
          .write.mode("overwrite").parquet(s"$dir/postings")
      }
      stage("terms") {
        termsOf(read(spark, Seq(dir -> 0), "postings"), partitions)
          .write.mode("overwrite").parquet(s"$dir/terms")
      }
      stage("terms_rev") {
        termsRevOf(read(spark, Seq(dir -> 0), "terms"))
          .write.mode("overwrite").parquet(s"$dir/terms_rev")
      }
    }
  }

  /** Run `side` on a new thread while `main` runs on this one, and return
    * once both have finished. The thread inherits this thread's Spark
    * local properties, so its jobs keep the caller's job group and pool.
    * Neither branch cancels the other: a stage either one commits stays
    * committed for a re-run to skip. The first failure is rethrown, with
    * the other branch's failure, if any, attached as suppressed. */
  private def beside(side: => Unit)(main: => Unit): Unit = {
    var sideError: Throwable = null
    val thread = new Thread(() => try side catch { case e: Throwable => sideError = e },
      "graft-segment-docs")
    thread.start()
    val mainError = try { main; null } catch { case e: Throwable => e }
    thread.join()
    (Option(mainError), Option(sideError)) match {
      case (Some(m), s) => s.foreach(m.addSuppressed); throw m
      case (None, Some(s)) => throw s
      case _ =>
    }
  }

  /** the terms table of a segment's `postings`: the groupBy is its one
    * exchange, and a narrow coalesce keeps it to partitions / 4 files */
  private[graft] def termsOf(postings: DataFrame, partitions: Int): DataFrame =
    postings.groupBy(col("term"))
      .agg(sum(col("cnt")).as("df"), sum(col("tf_sum")).as("total_tf"),
        max(col("max_tf")).cast("int").as("max_tf"))
      .coalesce(math.max(1, partitions / 4))
      .sortWithinPartitions(col("term"))

  /** the terms_rev table of a segment's `terms`, sorted by rterm within
    * each of its files: no exchange */
  private[graft] def termsRevOf(terms: DataFrame): DataFrame =
    terms.select(reverse(col("term")).as("rterm"), col("term"), col("df"))
      .sortWithinPartitions(col("rterm"))

  /** Stats of segment dirs given as (name, dir): ONE query however many
    * dirs, an aggregate by segment over the rows of both the postings and
    * the docs tables, so one exchange. A dir with no docs or no postings
    * reads as zero, with the empty doc range (Long.MaxValue,
    * Long.MinValue). */
  def measure(spark: SparkSession, dirs: Seq[(String, String)]): Measured = {
    import spark.implicits._
    if (dirs.isEmpty) return Measured(Nil, 0L, 0L)
    val segs = dirs.map(_._2).zipWithIndex
    val zero = lit(0L)
    val postings = read(spark, segs, "postings").select($"seg_ord",
      zero.as("docs"), lit(null).cast("long").as("doc_id"), zero.as("dl"),
      $"cnt".cast("long").as("postings"), $"payload_len".cast("long").as("bytes"),
      lit(1L).as("blocks"))
    val docs = read(spark, segs, "docs").select($"seg_ord",
      lit(1L), $"doc_id", $"dl".cast("long"), zero, zero, zero)
    val bySeg = postings.union(docs).groupBy($"seg_ord")
      .agg(sum($"docs"), min($"doc_id"), max($"doc_id"), sum($"dl"),
        sum($"postings"), sum($"bytes"), sum($"blocks"))
      .as[(Int, Long, Option[Long], Option[Long], Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    val stats = dirs.zipWithIndex.map { case ((name, _), i) =>
      bySeg.get(i).fold(SegStats(name, 0L, Long.MaxValue, Long.MinValue, 0L, 0L)) {
        case (_, nd, lo, hi, _, np, pb, _) =>
          SegStats(name, nd, lo.getOrElse(Long.MaxValue), hi.getOrElse(Long.MinValue), np, pb)
      }
    }
    Measured(stats, bySeg.values.map(_._5).sum, bySeg.values.map(_._8).sum)
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
