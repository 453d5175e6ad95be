package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ml.AnnIndex
import graft.ml.AnnIndex.Pq

/** PQ index: the full-rerank path must be EXACT (the gate's trick), the
  * ADC pass must carry real recall on clusterable data, and the artifact
  * must actually compress. */
class PqIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 32
  private val n = 300
  private def center(c: Int): Array[Float] =
    Array.tabulate(dim) { i =>
      (((graft.corpus.WebCorpus.splitmix64(c * 977L + i) & 0xffff) / 65536.0f) - 0.5f) * 2f
    }
  private def vec(id: Long): Array[Float] = {
    val base = center((id % 10).toInt)
    Array.tabulate(dim) { i =>
      base(i) + (((graft.corpus.WebCorpus.splitmix64(id * 31L + i) & 0xff) / 256.0f) - 0.5f) * 0.1f
    }
  }

  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft-pq").toString
  private lazy val built: String = {
    val df = (0L until n).map(id => (id, vec(id).toSeq)).toDF("vec_id", "embedding")
    AnnIndex.build(df, "vec_id", "embedding", s"$tmp/pq", nlist = 1, payload = Pq(8, 16))
    s"$tmp/pq"
  }

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < dim) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** brute-force top-k under the GATE's ordering convention: by the
    * 4-decimal ROUNDED cosine (ties -> lower id), matching the oracle SQL */
  private def bruteTop(q: Array[Float], k: Int, exclude: Long): Seq[Long] =
    (0L until n).filter(_ != exclude)
      .map { id =>
        val r = BigDecimal(cos(q, vec(id)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (r, id)
      }
      .sortBy { case (c, id) => (-c, id) }.take(k).map(_._2)

  test("rerank >= corpus degrades to exact brute force") {
    val q = vec(7L)
    val got = AnnIndex.search(spark, built, q, k = 10, nprobe = 1, rerank = n, excludeId = Some(7L))
      .collect().map(_.getLong(0)).toSeq
    assert(got == bruteTop(q, 10, 7L))
  }

  test("ADC pass recalls clustered neighbors (rerank well below corpus)") {
    var hits = 0; var total = 0
    for (qid <- Seq(3L, 14L, 25L, 101L)) {
      val q = vec(qid)
      val truth = bruteTop(q, 10, qid).toSet
      val got = AnnIndex.search(spark, built, q, k = 10, nprobe = 1, rerank = 40,
        excludeId = Some(qid)).collect().map(_.getLong(0)).toSet
      hits += got.intersect(truth).size
      total += truth.size
    }
    val recall = hits.toDouble / total
    assert(recall >= 0.8, s"ADC recall@10 (rerank=40) = $recall")
  }

  test("the artifact compresses: m ints per vector, codebooks tiny") {
    val codes = spark.read.parquet(s"$built/lists")
    assert(codes.select("code").head().getSeq[Int](0).length == 8,
      "8 subspace codes per vector")
    assert(spark.read.parquet(s"$built/vecs").select("vec").head()
      .getSeq[Float](0).length == dim)
    assert(spark.read.parquet(s"$built/codebooks").count() == 8 * 16)
    // every code addresses a real centroid
    import org.apache.spark.sql.functions._
    val bad = codes.select(explode(col("code")).as("c"))
      .where(col("c") < 0 || col("c") >= 16).count()
    assert(bad == 0)
  }
}
