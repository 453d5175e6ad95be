package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.corpus.WebCorpus
import graft.index._
import graft.streaming.IncrementalIndex

/** Writes the same five indexes on any tree (base, sectioned, token-column,
  * append, compactPartial with two folds) plus two 16k-doc builds whose
  * build_metrics.json and job/stage counts are kept. */
object TablesProbe {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val spark = SparkSession.builder().master("local[4]").appName("tables-probe")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val cfg = IndexConfig()

    def gen(n: Long, seed: Long) = WebCorpus.generate(spark, n, 4, seed)
    IndexBuilder.build(spark, gen(2000, 11).select("doc_id", "text"), "doc_id", "text",
      s"$out/base", cfg)
    IndexBuilder.buildSectioned(spark, gen(1500, 12), "doc_id", Seq("url", "text"),
      s"$out/sect", cfg)
    TokenColumn.write(spark, gen(1500, 13), "doc_id", Seq("text"), s"$out/tokcol", "TokenBigram")
    TokenColumn.buildIndex(spark, s"$out/tokcol", s"$out/tokidx", cfg)
    val app = gen(1200, 14)
    IndexBuilder.build(spark, app.where($"doc_id" < 1000), "doc_id", "text", s"$out/append", cfg)
    IncrementalIndex.appendSegment(spark, s"$out/append", app.where($"doc_id" >= 1000),
      "doc_id", "text", "seg-a", cfg)

    val p = s"$out/folds"
    val all = gen(500, 15)
    def slice(lo: Long, hi: Long) = all.where($"doc_id" >= lo && $"doc_id" < hi)
    val fcfg = IndexConfig(tokenizer = "TokenBigram", bucketBits = 6)
    IndexBuilder.build(spark, slice(0, 200), "doc_id", "text", p, fcfg)
    for ((lo, hi, n) <- Seq((200, 210, "seg-a"), (210, 220, "seg-b"), (220, 480, "seg-big"),
        (480, 490, "seg-c"), (490, 500, "seg-d")))
      IncrementalIndex.appendSegment(spark, p, slice(lo, hi), "doc_id", "text", n, fcfg)
    IncrementalIndex.delete(spark, p, Seq(205L, 495L))
    val keepAt = GraftIndex(spark, p).meta.segStats.find(_.name == "seg-a").get.nPostings * 4
    val pc = IncrementalIndex.compactPartial(spark, p, fcfg, minKeepPostings = keepAt)
    println(s"[probe] folds segments ${pc.meta.segments}")

    // 16k docs, as perfbench's build workload: corpus to parquet, then two
    // builds; the second is the warm one whose jobs and stages are counted
    gen(16000, 7300).select("doc_id", "text").write.parquet(s"$out/corpus16k")
    def build16k(dir: String) = IndexBuilder.build(spark,
      spark.read.parquet(s"$out/corpus16k").sortWithinPartitions("doc_id"), "doc_id", "text",
      dir, cfg)
    build16k(s"$out/m16k-cold")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        println(s"[probe-job] ${e.jobId} t=${e.time % 100000} stages=${e.stageInfos.size} ${e.stageInfos.map(_.name.take(50)).mkString("|")} " +
          s"${Thread.currentThread.getName} ${Option(e.properties).map(_.getProperty("spark.sql.execution.id")).orNull}")
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    }
    org.apache.spark.ProbeBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    val t0 = System.nanoTime()
    build16k(s"$out/m16k")
    val ms = (System.nanoTime() - t0) / 1e6
    org.apache.spark.ProbeBusDrain.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l)
    println(f"[probe] 16k warm build: $ms%.0f ms, jobs ${jobs.get}, stages completed ${stages.get}")
    spark.stop()
  }
}
