package graft.index

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

  /** read schema of a segment's docs table */
  final val DocsSchema = "doc_id BIGINT, dl INT"
  /** the postings columns the terms stage reads back */
  private val TermsInputSchema = "term STRING, cnt INT, max_tf INT, tf_sum BIGINT"
  /** the terms columns the terms_rev stage reads back */
  private val TermsRevInputSchema = "term STRING, df BIGINT"

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
        .write.mode("overwrite").parquet(s"$dir/postings")
    }
    // the read-backs give their schema: no schema-inference job per stage
    stage("terms") {
      spark.read.schema(TermsInputSchema).parquet(s"$dir/postings")
        .groupBy($"term")
        .agg(sum($"cnt").as("df"), sum($"tf_sum").as("total_tf"),
          max($"max_tf").cast("int").as("max_tf"))
        .repartition(math.max(1, partitions / 4))
        .sortWithinPartitions($"term")
        .write.mode("overwrite").parquet(s"$dir/terms")
    }
    stage("terms_rev") {
      spark.read.schema(TermsRevInputSchema).parquet(s"$dir/terms")
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
    * ONE docs query however many dirs. The read schema is given, so no
    * per-dir schema-inference job runs either. A dir with no docs or no
    * postings reads as zero, with the empty doc range (Long.MaxValue,
    * Long.MinValue). */
  def measure(spark: SparkSession, dirs: Seq[(String, String)]): Measured = {
    import spark.implicits._
    if (dirs.isEmpty) return Measured(Nil, 0L, 0L)
    def byDir(table: String, schema: String) =
      dirs.zipWithIndex.map { case ((_, d), i) =>
        spark.read.schema(schema).parquet(s"$d/$table").withColumn("ord", lit(i))
      }.reduce(_.union(_)).groupBy($"ord")
    val p = byDir("postings", "cnt INT, payload_len INT")
      .agg(sum($"cnt"), count(lit(1)), sum($"payload_len"))
      .as[(Int, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val d = byDir("docs", DocsSchema)
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
