package graft.probe

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeSet, InterpretedOrdering}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.functions.col

import graft.api.CommandFormat
import graft.corpus.WebCorpus
import graft.index.{GraftIndex, IndexBuilder, IndexConfig}
import graft.operators.Select
import graft.query.ScoreMode
import graft.server.GraftHttpServer
import perfbench.QueryGen

/** Step timings of a small select, in process: for each `select_rare`-shaped
  * query (BM25, top 10, `_id, _score`) on an 8000-doc WebCorpus index it
  * times
  *   - `matches`: `Select.matches` under the default small-query cap (the
  *     one kernel job; its rows stay on the driver),
  *   - `dataset_tail`: the page and body as the select made them before
  *     rows went straight to the formatters: `orderBy` analysis, the
  *     optimizer fold, the driver sort, `ofRows`, `select(_id, _score)`
  *     and `CommandFormat.body(df)`'s `take` (replicated below),
  *   - `rows_tail`: the server's own `GraftHttpServer.selectPage` and
  *     `CommandFormat.body` over its rows,
  * alternating which tail runs first. It checks that both bodies equal the
  * body of the same select at cap 0 (the distributed path) and exits 1 on
  * any difference. Prints one JSON line: the number of queries, the
  * mismatches and each step's p25/p50/p75/p95 in ms.
  *
  * Args: <work dir> [n] [warm]. run_probe.sh builds it into a copy of a
  * checkout's perfbench and runs it. */
object SelectPageProbe {
  private val capKey = "spark.graft.smallQueryMaxPostings"

  /** the page + body code a select ran before, kept as it was */
  private def datasetTail(spark: SparkSession, matched: DataFrame, req: Select.Request): String = {
    val sorted = matched.orderBy(
      req.sortKeys.map { case (c, asc) => if (asc) col(c).asc else col(c).desc }: _*)
    val driverRows =
      if (matched.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation]))
        Some(matched.queryExecution.optimizedPlan)
      else None
    val (page, nHits) = (driverRows, sorted.queryExecution.analyzed) match {
      case (Some(rel: LocalRelation), Sort(order, true, _, _))
          if AttributeSet(order.flatMap(_.references)).subsetOf(rel.outputSet) =>
        val rows = rel.data.sorted(new InterpretedOrdering(order, rel.output))
          .drop(math.max(req.offset, 0))
        val sliced = if (req.limit >= 0) rows.take(req.limit) else rows
        (GraftColumnBridge.ofRows(spark, rel.copy(data = sliced)), rel.data.length.toLong)
      case _ => sys.error("the probe's selects all run on the driver")
    }
    CommandFormat.body(page.select(col("doc_id").as("_id"),
      col("score").cast("long").as("_score")), nHits)
  }

  private def rowsTail(spark: SparkSession, matched: DataFrame, req: Select.Request): String = {
    val (rs, nHits) = GraftHttpServer.selectPage(spark, matched, req,
      GraftHttpServer.outputColumns(spark, "_id,_score"))
    CommandFormat.body(rs, nHits)
  }

  def main(args: Array[String]): Unit = {
    val work = args(0)
    val n = if (args.length > 1) args(1).toInt else 1200
    val warm = if (args.length > 2) args(2).toInt else 200
    val seed = 1401L
    val spark = SparkSession.builder().master("local[4]").appName("select-page-probe")
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
    def request(q: String) = Select.Request(q, ScoreMode.Bm25())
    val warmQs = QueryGen.rare(seed * 1000 + 500, warm, seed, nDocs)
    // a handle reads the cap on its first search
    spark.conf.set(capKey, "0")
    val distributed = GraftIndex(spark, s"$work/index")
    warmQs.take(4).foreach(q => rowsTail(spark, Select.matches(distributed, request(q.text)), request(q.text)))
    spark.conf.unset(capKey)
    val driver = GraftIndex(spark, s"$work/index")
    warmQs.foreach { q =>
      val req = request(q.text)
      val matched = Select.matches(driver, req)
      datasetTail(spark, matched, req); rowsTail(spark, matched, req)
    }
    val qs = QueryGen.rare(seed * 1000, n, seed, nDocs)
    def ms(t0: Long, t1: Long) = (t1 - t0) / 1e6
    var mismatches = 0
    val steps = qs.zipWithIndex.map { case (q, i) =>
      val req = request(q.text)
      val t0 = System.nanoTime()
      val matched = Select.matches(driver, req)
      val t1 = System.nanoTime()
      val (a, b, dsMs, rowsMs) =
        if (i % 2 == 0) {
          val a = datasetTail(spark, matched, req); val t2 = System.nanoTime()
          val b = rowsTail(spark, matched, req); val t3 = System.nanoTime()
          (a, b, ms(t1, t2), ms(t2, t3))
        } else {
          val b = rowsTail(spark, matched, req); val t2 = System.nanoTime()
          val a = datasetTail(spark, matched, req); val t3 = System.nanoTime()
          (a, b, ms(t2, t3), ms(t1, t2))
        }
      val want = rowsTail(spark, Select.matches(distributed, req), req)
      if (a != want || b != want) {
        mismatches += 1
        System.err.println(s"mismatch on ${q.text}: cap 0 $want, dataset tail $a, rows tail $b")
      }
      (ms(t0, t1), dsMs, rowsMs)
    }
    def pcts(xs: Seq[Double]): String = {
      val s = xs.sorted
      def p(q: Double) = s(math.min(s.length - 1, (q * s.length).toInt))
      f"""{"p25":${p(0.25)}%.3f,"p50":${p(0.50)}%.3f,"p75":${p(0.75)}%.3f,"p95":${p(0.95)}%.3f}"""
    }
    println(s"""{"selects":$n,"mismatches":$mismatches,"matches_ms":${pcts(steps.map(_._1))},""" +
      s""""dataset_tail_ms":${pcts(steps.map(_._2))},"rows_tail_ms":${pcts(steps.map(_._3))}}""")
    spark.stop()
    if (mismatches > 0) sys.exit(1)
  }
}
