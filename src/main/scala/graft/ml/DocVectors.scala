package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.{GraftIndex, PostingBlockRow}

/** TokenDocumentVectorBM25 — per-document
  * weighted term vectors emitted straight from the index
  * (/root/reference/lib/tokenizers.c:2316-2652: df/avgdl from the ii
  * cursor scan, Okapi weights at :2637-2652). Where the reference streams
  * one document at a time through a tokenizer, the Spark shape is a
  * distributed posting-block decode joined with the term dictionary —
  * no driver-side state, shuffle keyed by term then doc.
  */
object DocVectors {

  /** (doc_id, term, tf, dl) rows decoded from posting blocks, tombstones
    * applied, section tf aggregated to doc level */
  private def postingRows(idx: GraftIndex): DataFrame =
    idx.decodedAlive(idx.postings.as[PostingBlockRow](GraftIndex.blockEncoder))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(sum(col("tf")).cast("int").as("tf"))

  private def idfCol(nDocs: Long): org.apache.spark.sql.Column =
    log((lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0)

  /** df aggregated across segments (the terms table holds one row per
    * (segment, term)) */
  private def termDf(idx: GraftIndex): DataFrame =
    idx.terms.groupBy(col("term")).agg(sum(col("df")).as("df"))

  /** BM25-weighted vectors: (doc_id, term, w) with the reference constants */
  def bm25(idx: GraftIndex, k1: Double = 2.0, b: Double = 0.75): DataFrame = {
    val n = idx.meta.nDocs
    val avgdl = idx.meta.avgdl
    postingRows(idx)
      .join(termDf(idx), Seq("term"))
      .select(col("doc_id"), col("term"),
        (idfCol(n) * col("tf") * (k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))).as("w"))
  }
}
