package graft.probe

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

import graft.corpus.WebCorpus
import graft.index.{GraftIndex, IndexBuilder, IndexConfig, PostingBlockRow}
import perfbench.QueryGen

/** Step timings of a small select's block fetch, in process: for each
  * `select_rare` query's terms on an 8000-doc WebCorpus index it times
  *   - `planned`: the fetch as it was before the handle had its own
  *     reader: plan `blockRows(terms)` (a `term IN` parquet scan, with its
  *     analysis, optimization, codegen and Hadoop conf broadcast) and
  *     collect its rows in one bounded job (replicated below),
  *   - `reader`: `GraftIndex.collectBlocks`, the handle's reader,
  * both under the default small-query cap, alternating which runs first.
  * The two must return the same blocks (every field and payload byte, as
  * multisets); the probe exits 1 on any difference. Prints one JSON line:
  * the number of term sets, the mismatches and each step's p25/p50/p75/p95
  * in ms.
  *
  * Args: <work dir> [n] [warm]. run_probe.sh builds it into a copy of a
  * checkout's perfbench and runs it. */
object BlockReadProbe {
  /** the bounded collect's task as it was, over the scan's rows */
  private final class Hold(decoder: ExpressionEncoder[PostingBlockRow], share: Long)
      extends ((TaskContext, Iterator[InternalRow]) => Option[Array[PostingBlockRow]])
      with Serializable {
    def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Option[Array[PostingBlockRow]] = {
      val decode = decoder.createDeserializer()
      val held = scala.collection.mutable.ArrayBuffer.empty[PostingBlockRow]
      var n = 0L
      while (n <= share && rows.hasNext) { val b = decode(rows.next()); held += b; n += b.cnt }
      if (n <= share) Some(held.toArray) else None
    }
  }

  /** the fetch as it was: a planned scan per query, collected in one job */
  private def planned(idx: GraftIndex, decoder: ExpressionEncoder[PostingBlockRow],
      terms: Seq[String], cap: Long): Option[Array[PostingBlockRow]] = {
    val scan = idx.blockRows(terms).queryExecution.toRdd
    val n = scan.getNumPartitions
    val parts = scan.sparkContext.runJob(scan, new Hold(decoder, cap / math.max(1, n)), 0 until n)
    if (parts.forall(_.isDefined)) Some(parts.flatMap(_.get)) else None
  }

  private def multiset(bs: Option[Array[PostingBlockRow]]) = bs.map(_.toSeq.groupBy { b =>
    (b.term, b.bucket, b.blk, b.min_doc, b.max_doc, b.cnt, b.max_tf, b.max_gtf, b.min_dl,
      b.tf_sum, b.payload_len, b.payload.toSeq, b.seg_ord)
  }.map { case (k, v) => k -> v.size })

  def main(args: Array[String]): Unit = {
    val work = args(0)
    val n = if (args.length > 1) args(1).toInt else 600
    val warm = if (args.length > 2) args(2).toInt else 100
    val seed = 1401L
    val spark = SparkSession.builder().master("local[4]").appName("block-read-probe")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC").config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local").config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val nDocs = 8000
    WebCorpus.generate(spark, nDocs.toLong, 8, seed).select("doc_id", "text")
      .write.parquet(s"$work/corpus")
    IndexBuilder.build(spark, spark.read.parquet(s"$work/corpus").sortWithinPartitions("doc_id"),
      "doc_id", "text", s"$work/index", IndexConfig())
    val idx = GraftIndex(spark, s"$work/index")
    val decoder = GraftIndex.blockEncoder.resolveAndBind(idx.postings.queryExecution.analyzed.output)
    val cap = GraftIndex.DefaultSmallQueryMaxPostings
    def terms(q: perfbench.Query) = idx.analyzeQuery(q.text).map(_._1).distinct
    QueryGen.rare(seed * 1000 + 500, warm, seed, nDocs).foreach { q =>
      planned(idx, decoder, terms(q), cap); idx.collectBlocks(terms(q), cap)
    }
    def ms(t0: Long, t1: Long) = (t1 - t0) / 1e6
    var mismatches = 0
    val steps = QueryGen.rare(seed * 1000, n, seed, nDocs).zipWithIndex.map { case (q, i) =>
      val ts = terms(q)
      val t0 = System.nanoTime()
      val first = if (i % 2 == 0) planned(idx, decoder, ts, cap) else idx.collectBlocks(ts, cap)
      val t1 = System.nanoTime()
      val second = if (i % 2 == 0) idx.collectBlocks(ts, cap) else planned(idx, decoder, ts, cap)
      val t2 = System.nanoTime()
      if (multiset(first) != multiset(second)) {
        mismatches += 1
        System.err.println(s"mismatch on ${q.text}: ${first.map(_.length)} vs ${second.map(_.length)}")
      }
      if (i % 2 == 0) (ms(t0, t1), ms(t1, t2)) else (ms(t1, t2), ms(t0, t1))
    }
    def pcts(xs: Seq[Double]): String = {
      val s = xs.sorted
      def p(q: Double) = s(math.min(s.length - 1, (q * s.length).toInt))
      f"""{"p25":${p(0.25)}%.3f,"p50":${p(0.50)}%.3f,"p75":${p(0.75)}%.3f,"p95":${p(0.95)}%.3f}"""
    }
    val files = new java.io.File(s"$work/index/postings").listFiles().count(_.getName.endsWith(".parquet"))
    println(s"""{"term_sets":$n,"postings_files":$files,"mismatches":$mismatches,""" +
      s""""planned_ms":${pcts(steps.map(_._1))},"reader_ms":${pcts(steps.map(_._2))}}""")
    spark.stop()
    if (mismatches > 0) sys.exit(1)
  }
}
