package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-step timing harness for the optimization round (guide §1.4): times
  * the expensive operator FAMILIES step by step with noop sinks /
  * counted actions and job descriptions, so regressions can be localized
  * to a lifecycle step instead of a whole gate. Separate main — the frozen
  * Bench harness is untouched; numbers from here are cited in
  * OPTIMIZATION_r07.md, never in BENCH_r*.json.
  *
  * Usage: runMain graft.tools.BenchExtra [family ...]
  *   families: ann ivfpq dedup cc kmeans suggest ft (default: all)
  */
object BenchExtra {
  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val fams = if (args.isEmpty) Set("ann", "ivfpq", "dedup", "cc", "kmeans", "suggest", "ft")
               else args.toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def step[A](name: String)(f: => A): Unit = {
      sc.setJobDescription(name)
      out(name) = time(f)
      sc.setJobDescription(null)
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val docs = graft.api.Tables.table(spark, sfDir, "documents")
    val emb = graft.api.Tables.table(spark, sfDir, "embeddings")
    val base = s"/tmp/graft-benchextra"
    org.apache.hadoop.fs.FileSystem.get(sc.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(base), true)

    if (fams("ann")) {
      val p = s"$base/ivf"
      step("ann.build")(graft.ml.AnnIndex.build(
        emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", p, nlist = 16))
      step("ann.append")(graft.ml.AnnIndex.append(
        emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding", p))
      step("ann.delete")(graft.ml.AnnIndex.delete(spark, p,
        emb.where(col("vec_id") % 7 === 3).select("vec_id"), "vec_id"))
      step("ann.search")(noop(graft.ml.AnnIndex.search(spark, p,
        Array.fill(64)(0.1f), k = 10, nprobe = 16)))
      step("ann.compact")(graft.ml.AnnIndex.compact(spark, p))
      step("ann.rebalance")(graft.ml.AnnIndex.rebalance(spark, p, iters = 3))
    }
    if (fams("ivfpq")) {
      val p = s"$base/ivfpq"
      step("ivfpq.build")(graft.ml.AnnIndex.build(
        emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", p,
        nlist = 16, payload = graft.ml.AnnIndex.Pq(8, 16)))
      step("ivfpq.append")(graft.ml.AnnIndex.append(
        emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding", p))
      step("ivfpq.delete")(graft.ml.AnnIndex.delete(spark, p,
        emb.where(col("vec_id") % 7 === 3).select("vec_id"), "vec_id"))
      step("ivfpq.compact")(graft.ml.AnnIndex.compact(spark, p))
      step("ivfpq.search")(noop(graft.ml.AnnIndex.search(spark, p,
        Array.fill(64)(0.1f), k = 10, nprobe = 16, rerank = 512)))
      step("ivfpq.rebalance")(graft.ml.AnnIndex.rebalance(spark, p, iters = 3))
    }
    if (fams("dedup")) {
      step("dedup.minhash_lsh")(noop(graft.textops.Dedup.minhashLshPairs(
        docs, "doc_id", "text", n = 3, bands = 4, rows = 4, threshold = 0.8)))
      step("dedup.jaccard")(noop(graft.textops.Dedup.jaccardPairs(
        docs, "doc_id", "text", n = 3, threshold = 0.8, maxShingleDf = 100)))
      step("dedup.simhash_pairs")(noop(graft.textops.Dedup.simhashPairs(
        docs, "doc_id", "text", bits = 48, maxDist = 2, maxBandDf = 256)))
      step("dedup.substring")(noop(graft.textops.Dedup.duplicatedSpans(
        docs, "doc_id", "text", n = 8, minDocs = 2)))
    }
    if (fams("cc")) {
      val pairs = graft.textops.Dedup.minhashLshPairs(
        docs, "doc_id", "text", n = 3, bands = 4, rows = 4, threshold = 0.8)
      step("cc.components")(noop(graft.textops.Dedup.connectedComponents(
        pairs, "doc_a", "doc_b")))
    }
    if (fams("kmeans")) {
      step("kmeans.cluster")(noop(graft.ml.KMeans.cluster(
        emb, "vec_id", "embedding", k = 8, iters = 2)))
    }
    if (fams("suggest")) {
      val idx = graft.api.Tables.documentsIndex(spark, sfDir)
      step("suggest.cooccur")(noop(graft.operators.Suggest.suggest(idx, "spark", k = 10)))
    }
    if (fams("ft")) {
      val mut = graft.api.Tables.documentsMutatedIndex(spark, sfDir)
      step("ft.after_update")(noop(
        mut.searchTerms(Seq("spark"), graft.query.MatchMode.Any, graft.query.ScoreMode.Tf)))
      step("ft.after_update_bm25")(noop(
        mut.searchTerms(Seq("spark", "dup"), graft.query.MatchMode.Any,
          graft.query.ScoreMode.Bm25())))
      val idx = graft.api.Tables.documentsIndex(spark, sfDir)
      step("ft.escalation")(noop(
        graft.api.FulltextQueries.searchEscalated(idx, "windo strea")))
    }

    val json = out.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    println(s"[benchextra] $json")
    spark.stop()
  }
}
