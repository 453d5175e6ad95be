package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import graft.corpus.WebCorpus
import graft.index.{GraftIndex, IndexBuilder, IndexConfig}
import graft.server.GraftHttpServer

/** Split a select_rare HTTP select into wire / server / Spark job time */
object SplitProbe {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val seed = 1401L
    val spark = SparkSession.builder().master("local[4]").appName("probe")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC").config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local").config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = 8000
    WebCorpus.generate(spark, n.toLong, 8, seed).select("doc_id", "text").write.parquet(s"$work/corpus")
    IndexBuilder.build(spark, spark.read.parquet(s"$work/corpus").sortWithinPartitions("doc_id"),
      "doc_id", "text", s"$work/index", IndexConfig())
    val srv = new GraftHttpServer(spark, Map("docs" -> GraftIndex(spark, s"$work/index"))).start()
    val jobMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobMs.add((e.time - starts.get(e.jobId)).toDouble)
    })
    QueryGen.rare(seed * 1000 + 500, 100, seed, n).foreach(q => Http.select(srv.boundPort, q.text))
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    jobMs.clear()
    val qs = QueryGen.rare(seed * 1000, 300, seed, n)
    val client = qs.map { q =>
      val t0 = System.nanoTime(); Http.select(srv.boundPort, q.text); (System.nanoTime() - t0) / 1e6
    }.sorted
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val jobs = jobMs.toArray.map(_.asInstanceOf[Double]).sorted
    val st = scala.io.Source.fromURL(s"http://127.0.0.1:${srv.boundPort}/d/status").mkString
    println(f"""{"selects":${qs.size},"client_p50_ms":${client(client.size / 2)}%.2f,""" +
      f""""jobs":${jobs.length},"job_p50_ms":${jobs(jobs.length / 2)}%.2f,"job_mean_ms":${jobs.sum / jobs.length}%.2f}""")
    println(st)
    srv.stop(); spark.stop()
  }
}
