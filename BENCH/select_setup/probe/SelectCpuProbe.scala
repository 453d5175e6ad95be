package perfbench

import java.time.Duration

import jdk.jfr.Recording
import org.apache.spark.sql.SparkSession

import graft.corpus.WebCorpus
import graft.index.{GraftIndex, IndexBuilder, IndexConfig}
import graft.server.GraftHttpServer

/** Where a small HTTP select's driver CPU goes: builds an 8000-doc
  * WebCorpus index, serves it over HTTP, runs `warm` select_rare-shaped
  * selects, then records `n` more with JFR method sampling every 2 ms and
  * dumps the recording to `<work>/select.jfr` (JfrSplit.java splits it).
  * Needs `-XX:FlightRecorderOptions:stackdepth=1024` so that no sampled
  * stack is cut. Prints one JSON line: the client's p50 over the recorded
  * selects and the server's `/d/status`.
  *
  * Args: <work dir> [n] [warm]. run_probe.sh builds it into a copy of a
  * checkout's perfbench and runs it with the JVM options it needs. */
object SelectCpuProbe {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val n = if (args.length > 1) args(1).toInt else 1200
    val warm = if (args.length > 2) args(2).toInt else 200
    val seed = 1401L
    val spark = SparkSession.builder().master("local[4]").appName("select-cpu-probe")
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
    val srv = new GraftHttpServer(spark, Map("docs" -> GraftIndex(spark, s"$work/index"))).start()
    QueryGen.rare(seed * 1000 + 500, warm, seed, nDocs).foreach(q => Http.select(srv.boundPort, q.text))
    val rec = new Recording()
    rec.enable("jdk.ExecutionSample").withPeriod(Duration.ofMillis(2))
    rec.start()
    val client = QueryGen.rare(seed * 1000, n, seed, nDocs).map { q =>
      val t0 = System.nanoTime(); Http.select(srv.boundPort, q.text); (System.nanoTime() - t0) / 1e6
    }.sorted
    rec.stop()
    rec.dump(java.nio.file.Paths.get(s"$work/select.jfr"))
    rec.close()
    val st = scala.io.Source.fromURL(s"http://127.0.0.1:${srv.boundPort}/d/status").mkString
    println(f"""{"selects":$n,"client_p50_ms":${client(n / 2)}%.2f,"status":$st}""")
    srv.stop(); spark.stop()
  }
}
