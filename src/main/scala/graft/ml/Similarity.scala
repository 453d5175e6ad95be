package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search: brute-force cosine top-k (the exact
  * baseline — broadcastable query vector, map + TakeOrderedAndProject, no
  * shuffle of the corpus) and a random-hyperplane LSH bucketing (the scale
  * path: bucket once, then search only the query's bucket).
  *
  * Hyperplanes are deterministic integer lattices (plane(j,i) derives from
  * (j,i) arithmetic only) so any engine reproduces the buckets exactly.
  */
object Similarity {

  /** elementwise dot product of two float vectors cast to double,
    * left-to-right accumulation (engine-reproducible). */
  /** driver/executor-local squared L2 — the ONE distance kernel shared by
    * the IVF assign path and PQ codebook training/coding (a numeric change
    * here must reach every quantizer at once) */
  private[ml] def l2sqLocal(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  /** index of the nearest centroid (ties → lowest index) — the one
    * assignment kernel of IVF lists, Lloyd rounds and PQ codes */
  private[ml] def nearest(v: Array[Float], cents: Array[Array[Float]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      val d = l2sqLocal(v, cents(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2(a) * l2(b))

  /** distance_inner_product (groonga returns 1 - a·b,
    * lib/distance.cpp:99-330 family) */
  def innerProductDistance(a: Column, b: Column): Column = lit(1.0) - dot(a, b)

  /** distance_l1_norm: Σ|a_i - b_i| */
  def l1Distance(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => abs(x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  /** distance_l2_norm_squared: Σ(a_i - b_i)² */
  def l2SquaredDistance(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double"); d * d
    }), lit(0.0), (acc, v) => acc + v)

  /** exact top-k `(vec_id, cos)` by cosine to one query vector — also the
    * final rank of every persisted-index search. Ranks by the 4-decimal
    * ROUNDED cosine, then vec_id: the oracles' ORDER BY cos names the
    * rounded output alias, so ranking by the raw value would flip rows
    * that tie after rounding. */
  def cosineTopK(vecs: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, excludeId: Option[Long] = None): DataFrame = {
    val base = excludeId.fold(vecs)(id => vecs.where(col(idCol) =!= id))
    base.select(col(idCol).as("vec_id"),
        round(cosine(col(vecCol), typedLit(query.toSeq)), 4).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }

  /** deterministic pseudo-random hyperplane component for (plane j, dim i):
    * integer lattice in {-3..3}. */
  def planeValue(j: Int): Column => Column = i =>
    ((lit(j) * 131071 + i * 524287) % 1000003) % 7 - 3

  /** sign-of-dot-product LSH bucket id over `planes` hyperplanes */
  def lshBucket(vecCol: Column, dim: Int, planes: Int): Column = {
    val bits = (0 until planes).map { j =>
      val d = aggregate(
        zip_with(vecCol, sequence(lit(0), lit(dim - 1)),
          (x, i) => x.cast("double") * planeValue(j)(i).cast("double")),
        lit(0.0), (acc, v) => acc + v)
      when(d > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce[Column](_ + _)
  }

  /** (vec_id, bucket) for the whole corpus */
  def lshBuckets(vecs: DataFrame, idCol: String, vecCol: String,
      dim: Int, planes: Int = 8): DataFrame =
    vecs.select(col(idCol).as("vec_id"),
      lshBucket(col(vecCol), dim, planes).as("bucket"))

  /** Embedding-cosine NEAR-DUPLICATE pairs: hyperplane-LSH bucket blocking
    * (same bucket → candidate) + exact cosine verify >= `minCos`, distinct
    * (a < b) pairs. The all-pairs product never materializes — candidates
    * are bounded per bucket and buckets above `maxBucketDf` are dropped
    * (logged-by-construction recall tradeoff), the same discipline as the
    * minhash/simhash dedups. One bucket per vector → each pair appears at
    * most once, no distinct needed. */
  def nearDupPairs(vecs: DataFrame, idCol: String, vecCol: String, dim: Int,
      minCos: Double, planes: Int = 8, maxBucketDf: Long = 10000): DataFrame = {
    val b = lshBuckets(vecs, idCol, vecCol, dim, planes)
    val smallBuckets = b.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n")).where(col("n") <= maxBucketDf)
      .select(col("bucket"))
    val withV = b.join(smallBuckets, Seq("bucket"))
      .join(vecs.select(col(idCol).as("vec_id"), col(vecCol).as("v")), Seq("vec_id"))
    withV.as("a").join(withV.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        cosine(col("a.v"), col("b.v")).as("cos"))
      .where(col("cos") >= minCos)
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos"))
  }

  /** ANN: top-k by cosine within the query's LSH bucket only */
  def annTopK(vecs: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], dim: Int, k: Int, planes: Int = 8): DataFrame = {
    val withBuckets = lshBuckets(vecs, idCol, vecCol, dim, planes)
    val q = typedLit(query.toSeq)
    val qBucketDf = vecs.sparkSession.range(1)
      .select(lshBucket(q, dim, planes).as("bucket"))
    val cands = withBuckets.join(broadcast(qBucketDf), Seq("bucket"))
      .join(vecs.select(col(idCol).as("vec_id"), col(vecCol).as("v")), Seq("vec_id"))
    cands.select(col("vec_id"), cosine(col("v"), q).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("cos"), 4).as("cos"))
  }

  /** Multi-probe ANN: search the query's bucket AND every bucket one
    * bit-flip away (planes+1 buckets). A near neighbor lands in a different
    * bucket exactly when some hyperplane separates it from the query; the
    * closer the neighbor, the likelier that is ONE plane — so probing the
    * Hamming-1 shell recovers most of the recall lost to single-probe LSH
    * at ~(planes+1)/2^planes of the corpus scanned, instead of doubling
    * recall by halving `planes` (which would square bucket sizes). */
  def annTopKMultiProbe(vecs: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], dim: Int, k: Int, planes: Int = 8): DataFrame = {
    val withBuckets = lshBuckets(vecs, idCol, vecCol, dim, planes)
    val q = typedLit(query.toSeq)
    val probesDf = vecs.sparkSession.range(1)
      .select(lshBucket(q, dim, planes).as("b0"))
      .select(explode(array(
        col("b0") +: (0 until planes).map(j => col("b0").bitwiseXOR(lit(1L << j))): _*
      )).as("bucket"))
    val cands = withBuckets.join(broadcast(probesDf), Seq("bucket"))
      .join(vecs.select(col(idCol).as("vec_id"), col(vecCol).as("v")), Seq("vec_id"))
    cands.select(col("vec_id"), cosine(col("v"), q).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("cos"), 4).as("cos"))
  }

  /** BATCH ANN: top-k per query vector in ONE bucketed join — buckets are
    * computed once per side and candidates ranked with a window, so a
    * million queries cost one shuffle, not a million driver jobs (the
    * multi-query path round 1 lacked). Self-matches (same id) excluded. */
  def annTopKBatch(vecs: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      dim: Int, k: Int, planes: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cb = lshBuckets(vecs, idCol, vecCol, dim, planes)
    val qb = queries.select(col(qidCol).as("qid"),
      lshBucket(col(qvecCol), dim, planes).as("bucket"),
      col(qvecCol).as("qv"))
    val cands = qb.join(cb, Seq("bucket"))
      .where(col("vec_id") =!= col("qid"))
      .join(vecs.select(col(idCol).as("vec_id"), col(vecCol).as("v")), Seq("vec_id"))
      .select(col("qid"), col("vec_id"), cosine(col("v"), col("qv")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(desc("cos"), asc("vec_id"))
    cands.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), round(col("cos"), 4).as("cos"))
  }
}
