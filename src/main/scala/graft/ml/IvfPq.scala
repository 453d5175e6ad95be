package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}

/** IVF-PQ search entry point kept for existing callers: an IVF-PQ index is
  * an [[AnnIndex]] built with an [[AnnIndex.Pq]] payload. */
object IvfPq {
  def search(spark: SparkSession, path: String, query: Array[Float], k: Int,
      nprobe: Int, rerank: Int, excludeId: Option[Long] = None): DataFrame =
    AnnIndex.search(spark, path, query, k, nprobe, rerank, excludeId)
}
