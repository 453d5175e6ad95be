package graft.ml

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The Pq re-rank fetches the candidates' floats through one of two arms:
  * a collected `vec_id IN` filter up to `maxIsinIds` candidates, a
  * broadcast semi-join above. Every embeddings table the gates use is
  * smaller than the default threshold, so this spec forces the join arm
  * and asserts both arms return the same rows — over an index with
  * tombstones and a deleted-then-re-appended id. */
class RerankFetchSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private val dim = 16
  private val n = 200
  private def vec(id: Long): Array[Float] = Array.tabulate(dim) { d =>
    (math.sin((id % 10) * 7.3 + d * 1.7) * 5 + math.sin(id * 13.1 + d * 3.9) * 0.3).toFloat
  }

  test("isin and broadcast-join fetch arms give identical rows") {
    val p = java.nio.file.Files.createTempDirectory("graft-rerank").toString + "/idx"
    AnnIndex.build((0L until n).map(i => (i, vec(i))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", p, nlist = 4, payload = AnnIndex.Pq(8, 16))
    AnnIndex.delete(spark, p, (0L until n).filter(_ % 7 == 3))
    // id 10 was deleted above; re-append it with another vector
    AnnIndex.append(Seq((10L, vec(1234L))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", p)
    val st = VecStore.read(spark, p)
    val vecs = AnnIndex.aliveVecs(spark, p, st, AnnIndex.readModel(spark, p, st))
    for (q <- Seq(vec(1234L), vec(10L), vec(42L)); rerank <- Seq(30, n)) {
      val topIds = AnnIndex.candidates(spark, p, q, nprobe = 4)
        .orderBy(desc("adc"), asc("vec_id")).limit(rerank).select($"vec_id")
      val isin = PqIndex.rerankExact(vecs, topIds, rerank, q, k = 10)
      val join = PqIndex.rerankExact(vecs, topIds, rerank, q, k = 10, maxIsinIds = 0)
      // only the isin arm pushes the candidate ids into the float scan
      assert(isin.queryExecution.executedPlan.toString.contains("In(vec_id"))
      assert(!join.queryExecution.executedPlan.toString.contains("In(vec_id"))
      val rows = isin.as[(Long, Double)].collect().toSeq
      assert(rows.length == 10 && rows.forall { case (id, _) => id % 7 != 3 || id == 10L })
      assert(join.as[(Long, Double)].collect().toSeq == rows, s"rerank = $rerank")
      assert(AnnIndex.search(spark, p, q, k = 10, nprobe = 4, rerank = rerank)
        .as[(Long, Double)].collect().toSeq == rows)
    }
    val reused = AnnIndex.search(spark, p, vec(1234L), k = 1, nprobe = 4, rerank = n)
      .as[(Long, Double)].collect().toSeq
    assert(reused.map(_._1) == Seq(10L))
  }
}
