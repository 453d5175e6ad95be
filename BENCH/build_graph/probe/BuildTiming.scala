package graft

import org.apache.spark.sql.SparkSession
import graft.corpus.WebCorpus
import graft.index._

object BuildTiming {
  def main(args: Array[String]): Unit = {
    val out = args(0); val reps = args(1).toInt
    val spark = SparkSession.builder().master("local[4]").appName("build-timing")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    WebCorpus.generate(spark, 16000, 8, 7300).select("doc_id", "text").write.mode("overwrite").parquet(s"$out/corpus")
    def b(i: Int): Double = {
      val t0 = System.nanoTime()
      IndexBuilder.build(spark, spark.read.parquet(s"$out/corpus").sortWithinPartitions("doc_id"),
        "doc_id", "text", s"$out/idx-$i", IndexConfig())
      (System.nanoTime() - t0) / 1e6
    }
    (0 until 4).foreach(b)
    val ts = (4 until 4 + reps).map(b).sorted
    System.out.println(f"[timing] median ${ts(ts.size / 2)}%.0f q1 ${ts(ts.size / 4)}%.0f q3 ${ts(3 * ts.size / 4)}%.0f all ${ts.map(_.round).mkString(",")}")
    spark.stop()
  }
}
