package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ml.{AnnIndex, Similarity}

/** IVF + multi-probe LSH behavior that the hash gates can't express:
  * recall at nprobe < nlist, scan pruning, and the multi-probe recall
  * ordering. Corpus: deterministic clustered vectors (cluster center +
  * small offset) so near neighbors genuinely cluster. */
class AnnIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 16
  private def vec(cluster: Int, i: Int): Array[Float] =
    Array.tabulate(dim) { d =>
      val center = math.sin(cluster * 7.3 + d * 1.7).toFloat * 5f
      center + (math.sin(i * 13.1 + d * 3.9) * 0.3).toFloat
    }
  // 20 clusters x 100 members
  private lazy val corpus = (0 until 2000).map(i => (i.toLong, vec(i % 20, i / 20)))
  private lazy val df = corpus.toDF("vec_id", "embedding")

  private def bruteTop(q: Array[Float], k: Int, exclude: Long): Seq[Long] =
    Similarity.cosineTopK(df, "vec_id", "embedding", q, k, Some(exclude))
      .select($"vec_id").as[Long].collect().toSeq

  private lazy val idxPath = {
    val p = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    AnnIndex.build(df, "vec_id", "embedding", p, nlist = 32)
    p
  }

  test("nprobe = nlist reproduces exact brute-force top-k") {
    val q = vec(3, 7)
    val got = AnnIndex.search(spark, idxPath, q, k = 10, nprobe = 32,
      excludeId = Some(3L * 1 + 60)).select($"vec_id").as[Long].collect().toSeq
    assert(got == bruteTop(q, 10, 3L * 1 + 60))
  }

  test("small nprobe keeps high recall on clustered data") {
    val ks = 10
    val recalls = (0 until 10).map { c =>
      val q = vec(c, 50)
      val truth = bruteTop(q, ks, -1L).toSet
      val got = AnnIndex.search(spark, idxPath, q, k = ks, nprobe = 4)
        .select($"vec_id").as[Long].collect().toSet
      (got & truth).size.toDouble / ks
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"IVF nprobe=4/32 mean recall $mean < 0.9 ($recalls)")
  }

  test("incremental append: exact at full probe, recall intact at small nprobe") {
    val p = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString + "/idx"
    AnnIndex.build(df.where($"vec_id" % 2 === 0), "vec_id", "embedding", p, nlist = 32)
    AnnIndex.append(df.where($"vec_id" % 2 === 1), "vec_id", "embedding", p)
    val q = vec(5, 9)
    // full probe over base+appended = brute force over the WHOLE corpus
    val got = AnnIndex.search(spark, p, q, k = 10, nprobe = 32)
      .select($"vec_id").as[Long].collect().toSeq
    assert(got == bruteTop(q, 10, -1L))
    // frozen-centroid assignment keeps pruned search useful post-append
    val truth = bruteTop(q, 10, -1L).toSet
    val pruned = AnnIndex.search(spark, p, q, k = 10, nprobe = 4)
      .select($"vec_id").as[Long].collect().toSet
    assert((pruned & truth).size >= 9, s"post-append recall dropped: $pruned vs $truth")
  }

  test("probe filter is pushed into the lists scan") {
    val q = vec(5, 5)
    val plan = AnnIndex.search(spark, idxPath, q, k = 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("list_id"),
      s"list_id probe filter must reach the parquet scan:\n$plan")
  }

  test("trained centroids keep recall high at small nprobe") {
    val trained = AnnIndex.trainCentroids(df, "vec_id", "embedding", nlist = 32, iters = 3)
    assert(trained.size == 32 && trained.forall(_.length == dim))
    val p = java.nio.file.Files.createTempDirectory("graft-ivf-km").toString + "/idx"
    AnnIndex.build(df, "vec_id", "embedding", p, nlist = 32, centroids = Some(trained))
    val recalls = (0 until 10).map { c =>
      val q = vec(c, 50)
      val truth = bruteTop(q, 10, -1L).toSet
      val got = AnnIndex.search(spark, p, q, k = 10, nprobe = 4)
        .select($"vec_id").as[Long].collect().toSet
      (got & truth).size.toDouble / 10
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"trained IVF nprobe=4/32 mean recall $mean < 0.9")
  }

  test("batch IVF search at full probe equals per-query exact top-k") {
    val qs = df.where($"vec_id" < 4)
    val got = AnnIndex.searchBatch(spark, idxPath, qs, "vec_id", "embedding",
        k = 5, nprobe = 32)
      .orderBy($"qid", $"rank")
      .select($"qid", $"vec_id").as[(Long, Long)].collect().toSeq
    // the batch window ranks by the RAW cosine, like its oracle
    // (annIvfBatchSql); cosineTopK ranks by the rounded one
    def bruteRaw(q: Array[Float], k: Int, exclude: Long): Seq[Long] =
      df.where($"vec_id" =!= exclude)
        .select($"vec_id", Similarity.cosine($"embedding", typedLit(q.toSeq)).as("cos"))
        .orderBy(desc("cos"), asc("vec_id")).limit(k)
        .select($"vec_id").as[Long].collect().toSeq
    val want = (0L until 4L).flatMap { qid =>
      bruteRaw(corpus(qid.toInt)._2, 5, qid).map(qid -> _)
    }
    assert(got == want)
  }

  test("delete: tombstoned ids vanish; survivors exact at full probe") {
    val p = java.nio.file.Files.createTempDirectory("graft-ivf-del").toString + "/idx"
    AnnIndex.build(df, "vec_id", "embedding", p, nlist = 32)
    val dead = (0L until 2000L).filter(_ % 7 == 3)
    AnnIndex.delete(spark, p, dead)
    val q = vec(4, 11)
    val got = AnnIndex.search(spark, p, q, k = 10, nprobe = 32)
      .select($"vec_id").as[Long].collect().toSeq
    val want = Similarity.cosineTopK(df.where($"vec_id" % 7 =!= 3),
        "vec_id", "embedding", q, 10, None)
      .select($"vec_id").as[Long].collect().toSeq
    assert(got == want)
    assert(got.forall(_ % 7 != 3))
    // the BATCH path must filter the same tombstones
    val batch = AnnIndex.searchBatch(spark, p, df.where($"vec_id" < 3),
        "vec_id", "embedding", k = 8, nprobe = 32)
      .select($"vec_id").as[Long].collect().toSeq
    assert(batch.nonEmpty && batch.forall(_ % 7 != 3), s"batch leaked tombstones: $batch")
  }

  test("delete-then-append reuses the id: fresh vector searchable, stale one gone") {
    val p = java.nio.file.Files.createTempDirectory("graft-ivf-reuse").toString + "/idx"
    AnnIndex.build(df, "vec_id", "embedding", p, nlist = 32)
    val reusedId = 123L
    AnnIndex.delete(spark, p, Seq(reusedId))
    // while deleted: id absent even when its old vector IS the query
    val oldVec = corpus(reusedId.toInt)._2
    val during = AnnIndex.search(spark, p, oldVec, k = 5, nprobe = 32)
      .select($"vec_id").as[Long].collect().toSeq
    assert(!during.contains(reusedId))
    // re-append the SAME id with a vector from a different cluster
    val newVec = vec(19, 77)
    AnnIndex.append(Seq((reusedId, newVec)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", p)
    val hit = AnnIndex.search(spark, p, newVec, k = 1, nprobe = 32)
      .select($"vec_id").as[Long].collect().toSeq
    assert(hit == Seq(reusedId), s"re-appended id must be the top hit: $hit")
    // the STALE vector must not resolve the id any more
    val stale = AnnIndex.search(spark, p, oldVec, k = 3, nprobe = 32)
      .select($"vec_id").as[Long].collect().toSeq
    assert(!stale.contains(reusedId), s"stale vector resurfaced: $stale")
  }

  test("compact folds tombstones: identical results, smaller lists, empty deletes") {
    val p = java.nio.file.Files.createTempDirectory("graft-ivf-cmp").toString + "/idx"
    AnnIndex.build(df, "vec_id", "embedding", p, nlist = 32)
    AnnIndex.delete(spark, p, (0L until 2000L).filter(_ % 5 == 1))
    val q = vec(7, 3)
    val before = AnnIndex.search(spark, p, q, k = 10, nprobe = 32)
      .select($"vec_id", $"cos").as[(Long, Double)].collect().toSeq
    AnnIndex.compact(spark, p)
    val after = AnnIndex.search(spark, p, q, k = 10, nprobe = 32)
      .select($"vec_id", $"cos").as[(Long, Double)].collect().toSeq
    assert(after == before)
    val st = graft.ml.VecStore.read(spark, p)
    assert(st.lists != "lists", "compact must swap to a fresh lists dir")
    assert(spark.read.parquet(s"$p/${st.lists}").count() == 1600)
    assert(graft.ml.VecStore.tombstones(spark, p, st).isEmpty,
      "compact must leave no live tombstones")
  }

  test("rebalance restores list balance after skewed appends; full probe stays exact") {
    val p = java.nio.file.Files.createTempDirectory("graft-ivf-reb").toString + "/idx"
    AnnIndex.build(df, "vec_id", "embedding", p, nlist = 16)
    // the drift scenario: a frozen model meets a stream concentrated on one
    // region — 1000 fresh cluster-0 vectors pile into cluster 0's list(s)
    val flood = (2000 until 3000).map(i => (i.toLong, vec(0, i - 1900)))
    AnnIndex.append(flood.toDF("vec_id", "embedding"), "vec_id", "embedding", p)
    val skewed = AnnIndex.imbalance(spark, p)
    assert(skewed > 2.0, s"one-region flood should skew lists: $skewed")
    AnnIndex.rebalance(spark, p, iters = 3)
    val balanced = AnnIndex.imbalance(spark, p)
    assert(balanced < skewed / 1.5,
      s"rebalance must materially reduce imbalance: $skewed -> $balanced")
    // full probe stays exact over the WHOLE (base + flood) corpus
    val full = (corpus ++ flood).toDF("vec_id", "embedding")
    val q = vec(9, 9)
    val got = AnnIndex.search(spark, p, q, k = 10, nprobe = 16)
      .select($"vec_id").as[Long].collect().toSeq
    val want = Similarity.cosineTopK(full, "vec_id", "embedding", q, 10, None)
      .select($"vec_id").as[Long].collect().toSeq
    assert(got == want)
    // pruned probes stay useful after the rewrite
    val recalls = (0 until 8).map { c =>
      val qq = vec(c, 42)
      val truth = Similarity.cosineTopK(full, "vec_id", "embedding", qq, 10, None)
        .select($"vec_id").as[Long].collect().toSet
      val pr = AnnIndex.search(spark, p, qq, k = 10, nprobe = 4)
        .select($"vec_id").as[Long].collect().toSet
      (pr & truth).size.toDouble / 10
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.85, s"post-rebalance nprobe=4/16 recall $mean < 0.85 ($recalls)")
  }

  test("a rebuild at a path that had deletes starts with no tombstones (both payloads)") {
    val small = df.where($"vec_id" < 50)
    val q = corpus(5)._2
    for (payload <- Seq(AnnIndex.Flat, AnnIndex.Pq(8, 16)); compact <- Seq(false, true)) {
      val p = java.nio.file.Files.createTempDirectory("graft-ivf-rebuild").toString + "/idx"
      def top(): Seq[Long] = AnnIndex.search(spark, p, q, k = 2, nprobe = 4, rerank = 50)
        .select($"vec_id").as[Long].collect().toSeq
      AnnIndex.build(small, "vec_id", "embedding", p, nlist = 4, payload = payload)
      val fresh = top()
      assert(fresh.head == 5L)
      AnnIndex.delete(spark, p, Seq(5L))
      if (compact) AnnIndex.compact(spark, p)
      AnnIndex.build(small, "vec_id", "embedding", p, nlist = 4, payload = payload)
      assert(top() == fresh, s"$payload, compact between: $compact")
    }
  }

  test("repeated delete + compact cycles: survivors kept, a deleted id can be re-appended") {
    val p = java.nio.file.Files.createTempDirectory("graft-ivf-recompact").toString + "/idx"
    AnnIndex.build(df.where($"vec_id" < 200), "vec_id", "embedding", p, nlist = 8)
    for (dead <- Seq(3L, 7L, 11L)) {
      AnnIndex.delete(spark, p, Seq(dead))
      AnnIndex.compact(spark, p)
    }
    val st = graft.ml.VecStore.read(spark, p)
    assert(spark.read.parquet(s"$p/${st.lists}").count() == 197)
    val got = AnnIndex.search(spark, p, corpus(7)._2, k = 200, nprobe = 8)
      .select($"vec_id").as[Long].collect().toSet
    assert(got == (0L until 200L).toSet -- Set(3L, 7L, 11L))
    // each compaction starts an empty deletes dir: an old tombstone must
    // not outrank the re-appended row
    AnnIndex.append(Seq((7L, vec(19, 77))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", p)
    val hit = AnnIndex.search(spark, p, vec(19, 77), k = 1, nprobe = 8)
      .select($"vec_id").as[Long].collect().toSeq
    assert(hit == Seq(7L), s"re-appended id must be the top hit: $hit")
  }

  test("IVF-FLAT single-query search breaks a rounded-cosine tie by vec_id, like its oracle") {
    // cos to q: id 1 ≈ 0.995; ids 9 (0.81254) and 3 (0.81251) tie at 4
    // decimals for the k = 2 slot; the raw value would pick 9
    def at(c: Double) = Seq(c.toFloat, math.sqrt(1 - c * c).toFloat)
    val vs = Seq(1L -> at(0.995), 9L -> at(0.81254), 3L -> at(0.81251), 4L -> at(0.5))
    val p = java.nio.file.Files.createTempDirectory("graft-ivf-tie").toString + "/idx"
    AnnIndex.build(vs.toDF("vec_id", "embedding"), "vec_id", "embedding", p, nlist = 2)
    val got = AnnIndex.search(spark, p, Array(1f, 0f), k = 2, nprobe = 2)
      .select($"vec_id", $"cos").as[(Long, Double)].collect().toSeq
    assert(got == Seq(1L -> 0.995, 3L -> 0.8125))
    assert(Similarity.cosineTopK(vs.toDF("vec_id", "embedding"), "vec_id", "embedding",
      Array(1f, 0f), 2).as[(Long, Double)].collect().toSeq == got)
  }

  test("multi-probe recall >= single-probe recall, both subsets of exact") {
    val trials = (0 until 12).map { c =>
      val q = vec(c, 99)
      val truth = bruteTop(q, 10, -1L).toSet
      def recall(ids: Set[Long]) = (ids & truth).size.toDouble / truth.size
      val single = Similarity.annTopK(df, "vec_id", "embedding", q, dim, 10)
        .select($"vec_id").as[Long].collect().toSet
      val multi = Similarity.annTopKMultiProbe(df, "vec_id", "embedding", q, dim, 10)
        .select($"vec_id").as[Long].collect().toSet
      (recall(single), recall(multi))
    }
    val (s, m) = (trials.map(_._1).sum / trials.size, trials.map(_._2).sum / trials.size)
    assert(m >= s, s"multi-probe mean recall $m must be >= single-probe $s")
    assert(m >= 0.8, s"multi-probe mean recall $m < 0.8")
  }
}
