package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ml.AnnIndex
import graft.ml.AnnIndex.Pq

/** IVF+PQ composed index: the nprobe=nlist ∧ rerank=corpus path must be
  * EXACT (the gate's trick), the pruned ADC pass must carry real recall on
  * clusterable data, and — the 100-TB property — the candidate scan must
  * read ONLY (list_id, vec_id, code) with the list_id IN predicate pushed
  * into the parquet scan, never a float vector. */
class IvfPqSpec extends AnyFunSuite {
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

  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
  private lazy val built: String = {
    val df = (0L until n).map(id => (id, vec(id).toSeq)).toDF("vec_id", "embedding")
    AnnIndex.build(df, "vec_id", "embedding", s"$tmp/ivfpq", nlist = 12, payload = Pq(8, 16))
    s"$tmp/ivfpq"
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

  test("nprobe = nlist and rerank = corpus degrades to exact brute force") {
    val q = vec(7L)
    val got = AnnIndex.search(spark, built, q, k = 10, nprobe = 12, rerank = n,
      excludeId = Some(7L)).collect().map(_.getLong(0)).toSeq
    assert(got == bruteTop(q, 10, 7L))
  }

  test("incremental append with frozen model stays exact at full probe + rerank") {
    val p = s"$tmp/ivfpq-append"
    val df = (0L until n).map(id => (id, vec(id).toSeq)).toDF("vec_id", "embedding")
    AnnIndex.build(df.where($"vec_id" % 2 === 0), "vec_id", "embedding", p,
      nlist = 12, payload = Pq(8, 16))
    AnnIndex.append(df.where($"vec_id" % 2 === 1), "vec_id", "embedding", p)
    val q = vec(7L)
    val got = AnnIndex.search(spark, p, q, k = 10, nprobe = 12, rerank = n,
      excludeId = Some(7L)).collect().map(_.getLong(0)).toSeq
    assert(got == bruteTop(q, 10, 7L))
  }

  test("pruned probe recalls clustered neighbors (nprobe and rerank well below corpus)") {
    var hits = 0; var total = 0
    for (qid <- Seq(3L, 14L, 25L, 101L)) {
      val q = vec(qid)
      val truth = bruteTop(q, 10, qid).toSet
      val got = AnnIndex.search(spark, built, q, k = 10, nprobe = 4, rerank = 40,
        excludeId = Some(qid)).collect().map(_.getLong(0)).toSet
      hits += got.intersect(truth).size
      total += truth.size
    }
    val recall = hits.toDouble / total
    assert(recall >= 0.8, s"IVF+PQ recall@10 (nprobe=4/12, rerank=40) = $recall")
  }

  test("lists store codes only; candidate scan pushes list_id IN and reads no floats") {
    val lists = spark.read.parquet(s"$built/lists")
    assert(lists.columns.toSeq == Seq("list_id", "vec_id", "code", "gen"),
      "the IVF+PQ lists table must not carry float vectors")
    val plan = AnnIndex.candidates(spark, built, vec(7L), nprobe = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("In(list_id"), s"list_id IN not pushed down:\n$plan")
    assert(!plan.contains("vec:array"), s"candidate scan projects floats:\n$plan")
  }

  test("batch search at full probe is exact (raw-cosine window convention)") {
    import spark.implicits._
    // the batch window ranks by RAW cosine like its oracle
    // (annIvfBatchSql); the single-query path ranks by the ROUNDED alias
    // like ITS oracle — so compare batch against raw-ordered brute force
    def bruteRaw(q: Array[Float], k: Int, exclude: Long): Seq[Long] =
      (0L until n).filter(_ != exclude)
        .map(id => (cos(q, vec(id)), id))
        .sortBy { case (c, id) => (-c, id) }.take(k).map(_._2)
    val qdf = Seq(3L, 14L, 101L).map(id => (id, vec(id).toSeq)).toDF("vec_id", "embedding")
    val batch = AnnIndex.searchBatch(spark, built, qdf, "vec_id", "embedding",
        k = 5, nprobe = 12, rerank = n)
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rows) => qid -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    for (qid <- Seq(3L, 14L, 101L))
      assert(batch(qid) == bruteRaw(vec(qid), 5, qid), s"qid=$qid")
  }

  test("delete + id reuse: stale floats never resolve; compact preserves results") {
    val p = s"$tmp/ivfpq-delete"
    val df = (0L until n).map(id => (id, vec(id).toSeq)).toDF("vec_id", "embedding")
    AnnIndex.build(df, "vec_id", "embedding", p, nlist = 12, payload = Pq(8, 16))
    AnnIndex.delete(spark, p, (0L until n.toLong).filter(_ % 7 == 3))
    def survivorsTop(q: Array[Float], k: Int, exclude: Long): Seq[Long] =
      (0L until n).filter(id => id != exclude && id % 7 != 3)
        .map { id =>
          val r = BigDecimal(cos(q, vec(id)))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          (r, id)
        }.sortBy { case (c, id) => (-c, id) }.take(k).map(_._2)
    val q = vec(8L)
    val got = AnnIndex.search(spark, p, q, k = 10, nprobe = 12, rerank = n,
      excludeId = Some(8L)).collect().map(_.getLong(0)).toSeq
    assert(got == survivorsTop(q, 10, 8L))
    assert(got.forall(_ % 7 != 3))
    // id reuse: re-append id 10 (deleted above) with cluster-9 geometry —
    // the fetch-back must resolve the FRESH floats, not the tombstoned ones
    val fresh = vec(9L * 100 + 901L)
    AnnIndex.append(Seq((10L, fresh.toSeq)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", p)
    val hit = AnnIndex.search(spark, p, fresh, k = 1, nprobe = 12, rerank = n)
      .collect().map(_.getLong(0)).toSeq
    assert(hit == Seq(10L), s"re-appended id must top its own query: $hit")
    val staleQ = vec(10L)
    val stale = AnnIndex.search(spark, p, staleQ, k = 3, nprobe = 12, rerank = n)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(!stale.exists { case (id, c) => id == 10L && c > 0.99 },
      s"stale floats resolved for the reused id: $stale")
    // compact folds tombstones; results byte-identical before/after
    val before = AnnIndex.search(spark, p, q, k = 10, nprobe = 12, rerank = n,
      excludeId = Some(8L)).collect().toSeq
    AnnIndex.compact(spark, p)
    val after = AnnIndex.search(spark, p, q, k = 10, nprobe = 12, rerank = n,
      excludeId = Some(8L)).collect().toSeq
    assert(after == before)
    val st = graft.ml.VecStore.read(spark, p)
    assert(st.lists.startsWith("lists-c") && st.vecs.startsWith("vecs-c"))
    // survivors only: n minus the 43 tombstoned (%7==3) plus the reused id
    val expectRows = (0L until n.toLong).count(id => id % 7 != 3) + 1
    assert(spark.read.parquet(s"$p/${st.lists}").count() == expectRows)
    assert(spark.read.parquet(s"$p/${st.vecs}").count() == expectRows)
  }

  test("rebalance: skewed appends re-listed, codebooks kept, exactness preserved") {
    val p = s"$tmp/ivfpq-rebalance"
    val df = (0L until n).map(id => (id, vec(id).toSeq)).toDF("vec_id", "embedding")
    AnnIndex.build(df, "vec_id", "embedding", p, nlist = 12, payload = Pq(8, 16))
    // flood one region: 600 fresh cluster-3 vectors pile into few lists
    val flood = (1000L until 1600L).map(id => (id, vec(3L + (id % 7) * 70).toSeq))
    AnnIndex.append(flood.toDF("vec_id", "embedding"), "vec_id", "embedding", p)
    AnnIndex.delete(spark, p, (0L until n.toLong).filter(_ % 9 == 4))
    val skewed = AnnIndex.imbalance(spark, p)
    assert(skewed > 2.0, s"flood should skew the code lists: $skewed")
    AnnIndex.rebalance(spark, p, iters = 3)
    val balanced = AnnIndex.imbalance(spark, p)
    assert(balanced < skewed / 1.5, s"imbalance: $skewed -> $balanced")
    // full probe + full rerank stays exact over base+flood survivors
    val all = ((0L until n).map(id => (id, vec(id))) ++
      flood.map { case (id, v) => (id, v.toArray) }).toMap
    def top(q: Array[Float], k: Int): Seq[Long] =
      all.toSeq.filter { case (id, _) => id % 9 != 4 || id >= 1000 }
        .map { case (id, v) =>
          (BigDecimal(cos(q, v)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, id)
        }.sortBy { case (c, id) => (-c, id) }.take(k).map(_._2)
    val q = vec(5L)
    val got = AnnIndex.search(spark, p, q, k = 10, nprobe = 12,
      rerank = n + flood.size).collect().map(_.getLong(0)).toSeq
    assert(got == top(q, 10))
  }

  test("rerank fetch touches exactly the candidate ids (isin path)") {
    // small rerank → driver collects ≤ rerank ids and the float fetch is a
    // pushed-down vec_id IN over the vec_id-sorted vecs table
    val q = vec(3L)
    val df = AnnIndex.search(spark, built, q, k = 5, nprobe = 12, rerank = 20,
      excludeId = Some(3L))
    val rows = df.collect()
    assert(rows.length == 5)
    // the re-rank output is ordered by exact cosine desc
    val cs = rows.map(_.getDouble(1)).toSeq
    assert(cs == cs.sorted.reverse, s"not cos-desc ordered: $cs")
    // ADC is approximate at rerank=20, but on clustered data the top-5
    // must overlap the exact top-5 heavily
    val overlap = rows.map(_.getLong(0)).toSet.intersect(bruteTop(q, 5, 3L).toSet).size
    assert(overlap >= 4, s"only $overlap/5 of exact top-5 recovered")
  }
}
