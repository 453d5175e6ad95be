package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The product-quantization (PQ) codec of an [[AnnIndex]] with a
  * [[AnnIndex.Pq]] payload (Jégou, Douze & Schmid 2011, "Product
  * Quantization for Nearest Neighbor Search" — public technique).
  *
  * A PQ index stores an m-int CODE per vector instead of its floats: the
  * (normalized) vector is split into m subspaces, each quantized to its
  * nearest of `kCent` per-subspace centroids. A query then scores a
  * candidate WITHOUT touching its floats: per subspace, the dot product of
  * the query sub-vector with every centroid is precomputed into a lookup
  * table (m x kCent doubles), and the asymmetric distance (ADC) is just m
  * table lookups summed — a pure codegen'd column expression over the code
  * array (no UDF). The top ADC candidates are re-ranked by exact cosine
  * over their fetched floats.
  *
  * Codebooks are trained per subspace with deterministic seeded Lloyd
  * (seeds = the subvectors of the lowest-id sample rows; no RNG), on a
  * driver-side sample — the codebook is tiny (m·kCent·dim/m floats) and at
  * scale one trains on a sample anyway.
  */
object PqIndex {

  final case class Codebook(sub: Int, cid: Int, centroid: Array[Float])

  /** lowest-id rows that train the codebooks, and their Lloyd rounds */
  private[ml] val TrainSample = 10000
  private val Iters = 8

  private[ml] def normalize(v: Array[Float]): Array[Float] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v else v.map(x => (x / n).toFloat)
  }

  /** deterministic per-subspace Lloyd on a driver-side sample */
  private def trainSubspace(sample: Array[Array[Float]], kCent: Int)
      : Array[Array[Float]] = {
    var cents = sample.take(kCent).map(_.clone())
    if (cents.length < kCent) // degenerate tiny corpus: pad with repeats
      cents = Array.tabulate(kCent)(i => sample(i % sample.length).clone())
    val d = sample(0).length
    for (_ <- 0 until Iters) {
      val sums = Array.fill(kCent)(new Array[Double](d))
      val counts = new Array[Long](kCent)
      sample.foreach { v =>
        val best = Similarity.nearest(v, cents)
        var i = 0
        while (i < d) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      var c = 0
      while (c < kCent) {
        if (counts(c) > 0) cents(c) = sums(c).map(x => (x / counts(c)).toFloat)
        c += 1
      }
    }
    cents
  }

  /** train the m per-subspace codebooks from a raw driver-side sample
    * (normalized here, like every coded vector) */
  private[ml] def trainCodebooks(raw: Array[Array[Float]], m: Int,
      kCent: Int): Array[Codebook] = {
    require(raw.nonEmpty, "a PQ build needs a non-empty corpus")
    val sample = raw.map(normalize)
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val sub = dim / m
    (0 until m).toArray.flatMap { s =>
      val subSample = sample.map(v => java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub))
      trainSubspace(subSample, kCent).zipWithIndex.map { case (c, cid) =>
        Codebook(s, cid, c)
      }
    }
  }

  /** codebooks as `books(sub)(cid)`, the shape [[encode]] reads */
  private[ml] def groupBooks(books: Array[Codebook]): Array[Array[Array[Float]]] =
    books.groupBy(_.sub).toArray.sortBy(_._1).map(_._2.sortBy(_.cid).map(_.centroid))

  /** m-int PQ code of a vector (normalizes internally) */
  private[ml] def encode(v: Array[Float], books: Array[Array[Array[Float]]]): Array[Int] = {
    val nv = normalize(v)
    val sub = books(0)(0).length
    Array.tabulate(books.length) { s =>
      Similarity.nearest(java.util.Arrays.copyOfRange(nv, s * sub, (s + 1) * sub), books(s))
    }
  }

  /** ADC lookup table: LUT(s, c) = dot(normalized-query_sub_s, centroid(s, c)) */
  private[ml] def lutFor(books: Array[Codebook], query: Array[Float],
      kCent: Int): Array[Double] = {
    val nq = normalize(query)
    val lut = new Array[Double](books.length)
    books.foreach { b =>
      val sub = b.centroid.length
      var d = 0.0; var i = 0
      while (i < sub) { d += nq(b.sub * sub + i).toDouble * b.centroid(i); i += 1 }
      lut(b.sub * kCent + b.cid) = d
    }
    lut
  }

  /** asymmetric distance Σ_s LUT(s, code_s) as a pure codegen'd column over
    * the m-int `code` array (no UDF, no float vector touched); `lut` is a
    * literal for one query or a per-row column for a query batch */
  private[ml] def adcColumn(lut: Column, codeCol: Column, m: Int, kCent: Int): Column =
    aggregate(
      zip_with(codeCol, sequence(lit(0), lit(m - 1)),
        (c, s) => element_at(lut, (s * kCent + c + 1).cast("int"))),
      lit(0.0), (acc, x) => acc + x)

  /** Fetch floats for exactly the candidate ids and exact-cosine re-rank to
    * the final top-k ([[Similarity.cosineTopK]]) — the candidate pass never
    * projects floats; this is the only pass that does, over ≤ rerank rows.
    * Up to `maxIsinIds` candidates the ids are collected and pushed into the
    * float scan as a `vec_id IN` filter — row-group pruning on the
    * vec_id-sorted layout makes the fetch a set of point lookups; above, a
    * broadcast semi-join keeps driver state bounded instead. */
  private[ml] def rerankExact(vecSrc: DataFrame, topIds: DataFrame, rerank: Int,
      query: Array[Float], k: Int, maxIsinIds: Int = 4096): DataFrame = {
    val spark = vecSrc.sparkSession
    import spark.implicits._
    val fetched =
      if (rerank <= maxIsinIds) {
        val ids = topIds.as[Long].collect()
        vecSrc.where(col("vec_id").isin(ids.map(Long.box): _*))
      } else vecSrc.join(broadcast(topIds), Seq("vec_id"))
    Similarity.cosineTopK(fetched, "vec_id", "vec", query, k)
  }
}
