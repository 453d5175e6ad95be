package graft.ml

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF ANN index — IVFADC (Jégou, Douze & Schmid, "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011): vectors are
  * assigned to their nearest of `nlist` coarse centroids and the lists are
  * written sorted by `list_id`, so a probe of `nprobe` lists becomes a
  * pushed-down `list_id IN (...)` predicate — parquet row-group min/max
  * stats skip every unprobed list before a row is read. Search cost scales
  * with nprobe/nlist of the corpus instead of the corpus.
  *
  * The list PAYLOAD is the only difference between the index kinds:
  *  - [[Flat]] (IVF-FLAT): lists hold `(list_id, vec_id, vec, gen)`; the
  *    probed rows rank by exact cosine.
  *  - [[Pq]] (IVF-PQ): lists hold `(list_id, vec_id, code, gen)` — m ints,
  *    never a float — beside a vec_id-sorted `vecs` table
  *    `(vec_id, vec, gen)`. The probed codes rank by ADC ([[PqIndex]]), the
  *    top `rerank` ids fetch their floats from `vecs` (point lookups on the
  *    sorted layout) and re-rank by exact cosine. `nlist = 1` is flat PQ.
  *
  * Layout: `centroids` (list_id, centroid), `codebooks` (Pq only), the
  * lists, `vecs` (Pq only), plus the [[VecStore]] state and tombstones.
  * dim, nlist, m and kCent are read off the persisted centroids and
  * codebooks; the payload is Pq iff codebooks exist.
  *
  * Default centroids are the `nlist` lowest-id vectors, not randomized
  * k-means: reproducibility across engines and runs is a correctness-gate
  * requirement, and the layout, probe math and pruning are the same
  * whichever coarse quantizer produced the centroids. Pass `centroids`
  * (e.g. from [[trainCentroids]]) for tighter lists. PQ codes quantize the
  * NORMALIZED RAW vectors with codebooks shared by all lists (not per-list
  * residuals): one lookup table serves every probed list, re-listing never
  * invalidates a code, and the exact re-rank absorbs the lost resolution.
  * `nprobe = nlist` (and `rerank ≥ corpus` for Pq) is exact brute force,
  * which the oracle gates exploit.
  *
  * Lifecycle, the same for both payloads: [[append]] ingests against the
  * frozen model, [[delete]] writes generation tombstones, [[listStats]] /
  * [[imbalance]] measure the list skew appends accumulate, [[compact]]
  * rewrites the survivors and [[rebalance]] also re-trains the centroids —
  * both into fresh directories behind an atomic state swap.
  */
object AnnIndex {

  sealed trait Payload
  /** lists carry the raw float vectors */
  case object Flat extends Payload
  /** lists carry m-int PQ codes over `kCent` centroids per subspace */
  final case class Pq(m: Int, kCent: Int) extends Payload

  final case class Centroid(list_id: Int, centroid: Array[Float])

  /** the collected model: centroids indexed by list_id, plus the codebooks
    * of a Pq payload (empty for Flat) */
  private[ml] final case class Model(cents: Array[Array[Float]],
      books: Array[PqIndex.Codebook]) {
    val payload: Payload =
      if (books.isEmpty) Flat
      else { val m = books.map(_.sub).max + 1; Pq(m, books.length / m) }
  }

  /** JVM cache of collected models keyed by the content fingerprint (file
    * names + lengths + mtimes) of their directories: repeated searches of an
    * unchanged index skip the collect jobs, and any rewrite writes fresh
    * file names and misses. Cleared past 64 entries (each is model-sized,
    * never data-sized). */
  private val models = new java.util.concurrent.ConcurrentHashMap[String, Model]()

  private[ml] def readModel(spark: SparkSession, path: String,
      st: VecStore.State): Model = {
    import spark.implicits._
    val fs = graft.index.SegmentCatalog.fileSystem(spark, path)
    val books = new Path(path, "codebooks")
    val pq = fs.exists(books)
    val dirs = new Path(path, st.cents) +: (if (pq) Seq(books) else Nil)
    val key = dirs.flatMap(fs.listStatus(_))
      .map(s => s"${s.getPath}:${s.getLen}:${s.getModificationTime}").sorted.mkString(";")
    if (models.size > 64) models.clear()
    models.computeIfAbsent(key, _ => Model(
      spark.read.parquet(s"$path/${st.cents}").as[Centroid].collect()
        .sortBy(_.list_id).map(_.centroid),
      if (pq) spark.read.parquet(books.toString).as[PqIndex.Codebook].collect()
      else Array.empty))
  }

  private def writeCentroids(spark: SparkSession, cents: Array[Array[Float]],
      dir: String): Unit = {
    import spark.implicits._
    cents.toSeq.zipWithIndex.map { case (c, i) => Centroid(i, c) }.toDS()
      .write.mode("overwrite").parquet(dir)
  }

  private def rows(vecs: DataFrame, idCol: String, vecCol: String)
      : Dataset[(Long, Array[Float])] = {
    import vecs.sparkSession.implicits._
    vecs.select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
  }

  /** the nprobe list ids nearest to `q` (ties → lower list_id) — the one
    * probe step of [[search]] and of [[searchBatch]]'s per-query expansion */
  private def probe(q: Array[Float], cents: Array[Array[Float]], nprobe: Int): Seq[Int] =
    cents.indices.map(i => (Similarity.l2sqLocal(q, cents(i)), i))
      .sortBy(identity).take(nprobe).map(_._2)

  /** Lloyd refinement with deterministic SEEDS (the nlist lowest-id
    * vectors — no RNG): `iters` alternating assign/mean steps, each one
    * scan with centroids broadcast. Mean accumulation order follows task
    * order, so centroids are reproducible only up to float rounding — which
    * is fine: an IVF index persists its own centroids, and search
    * correctness depends only on assign/probe using the SAME stored set.
    * Empty clusters keep their previous centroid. Use the result as
    * `build(..., centroids = Some(...))` for tighter lists (higher recall
    * at the same nprobe) than raw seeds.
    *
    * `hashSeeds = true` seeds from the nlist rows with the smallest
    * LCG(id) — a deterministic UNIFORM sample of the corpus, so a dense
    * region gets proportionally many seeds and Lloyd can SPLIT it into
    * several lists (lowest-id seeding plants at most one seed per region
    * regardless of its mass, which leaves a one-mode flood as one
    * oversized list forever — the failure [[rebalance]] exists to fix). */
  def trainCentroids(vecs: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 5, hashSeeds: Boolean = false): Seq[Array[Float]] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val seedKey =
      if (hashSeeds)
        (pmod(col(idCol).cast("long"), lit(2147483648L)) * lit(1103515245L)
          + lit(12345L)) % lit(2147483648L)
      else col(idCol)
    var cents: Array[Array[Float]] = vecs
      .orderBy(seedKey.asc, col(idCol).asc).limit(nlist)
      .select(col(vecCol)).as[Array[Float]].collect()
    val data = vecs.select(col(vecCol)).as[Array[Float]]
    val nSeeds = cents.length
    val dim = if (cents.isEmpty) 0 else cents(0).length
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(cents)
      // partition-local (sum, count) accumulators merged on the driver:
      // one scan-only stage per Lloyd round instead of a shuffle — the
      // reduction state is nlist x dim doubles, bounded by the model size.
      // Double-sum merge order changes with partitioning — within the
      // documented float-rounding tolerance (see above).
      val parts = data.mapPartitions { it =>
        val cs = bc.value
        val sums = Array.fill(nSeeds)(new Array[Double](dim))
        val counts = new Array[Long](nSeeds)
        it.foreach { v =>
          val lid = Similarity.nearest(v, cs)
          val s = sums(lid)
          var i = 0
          while (i < v.length) { s(i) += v(i); i += 1 }
          counts(lid) += 1L
        }
        Iterator.single((sums, counts))
      }.collect()
      val total = Array.fill(nSeeds)(new Array[Double](dim))
      val n = new Array[Long](nSeeds)
      parts.foreach { case (sums, counts) =>
        for (l <- 0 until nSeeds) {
          var i = 0
          while (i < dim) { total(l)(i) += sums(l)(i); i += 1 }
          n(l) += counts(l)
        }
      }
      cents = cents.indices.map { l =>
        if (n(l) > 0) total(l).map(x => (x / n(l)).toFloat) else cents(l)
      }.toArray
      bc.destroy()
    }
    cents.toSeq
  }

  /** Build the index at `path`, every row stamped with generation 0 (see
    * [[VecStore]]). ONE lowest-id collect serves both the default centroid
    * seeds and the Pq codebook training sample. */
  def build(vecs: DataFrame, idCol: String, vecCol: String, path: String,
      nlist: Int, payload: Payload = Flat,
      centroids: Option[Seq[Array[Float]]] = None): Unit = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val data = rows(vecs, idCol, vecCol)
    val sample = payload match { case Flat => 0; case _: Pq => PqIndex.TrainSample }
    val head = data.orderBy(col("vec_id"))
      .limit(math.max(if (centroids.isEmpty) nlist else 0, sample))
      .map(_._2).collect()
    val model = Model(centroids.fold(head.take(nlist))(_.toArray), payload match {
      case Flat => Array.empty[PqIndex.Codebook]
      case Pq(m, kCent) => PqIndex.trainCodebooks(head.take(sample), m, kCent)
    })
    writeCentroids(spark, model.cents, s"$path/centroids")
    val books = s"$path/codebooks"
    if (model.books.isEmpty)
      graft.index.SegmentCatalog.fileSystem(spark, path).delete(new Path(books), true)
    else model.books.toSeq.toDS().write.mode("overwrite").parquet(books)
    // a rebuild must not inherit tombstones from an earlier index at `path`:
    // the deletes directory is named for the commit, so it was never used
    val st = VecStore.Default.copy(
      deletes = s"deletes-b${VecStore.nextVersion(spark, path)}")
    write(data, path, st, model, gen = 0L, mode = "overwrite")
    VecStore.commit(spark, path, st)
  }

  /** Assign (and, for Pq, encode) `data` at generation `gen` into the
    * directories `st` names — the one write of build, append, compact and
    * rebalance. Pq writes its vecs table FIRST: a failure between the two
    * jobs leaves orphan floats that no code references (harmless), never
    * codes whose fetch-back would silently drop them; the caller's state
    * commit lands only after both. */
  private def write(data: Dataset[(Long, Array[Float])], path: String,
      st: VecStore.State, model: Model, gen: Long, mode: String): Unit = {
    val spark = data.sparkSession
    import spark.implicits._
    val cents = spark.sparkContext.broadcast(model.cents)
    val lists = model.payload match {
      case Flat =>
        data.map { case (id, v) => (Similarity.nearest(v, cents.value), id, v, gen) }
          .toDF("list_id", "vec_id", "vec", "gen")
      case _: Pq =>
        data.toDF("vec_id", "vec").withColumn("gen", lit(gen))
          .repartition(col("vec_id")).sortWithinPartitions("vec_id")
          .write.mode(mode).parquet(s"$path/${st.vecs}")
        val books = spark.sparkContext.broadcast(PqIndex.groupBooks(model.books))
        data.map { case (id, v) =>
          (Similarity.nearest(v, cents.value), id, PqIndex.encode(v, books.value), gen)
        }.toDF("list_id", "vec_id", "code", "gen")
    }
    // HASH repartition, not range: repartitionByRange samples its child,
    // which runs the assign/encode map twice. Files may interleave list_ids,
    // but rows stay (list_id, vec_id)-sorted within each file, so the
    // `list_id IN` row-group pruning holds. A single list (flat PQ) spreads
    // by vec_id instead of landing on one task.
    lists.repartition(col(if (model.cents.length > 1) "list_id" else "vec_id"))
      .sortWithinPartitions("list_id", "vec_id")
      .write.mode(mode).parquet(s"$path/${st.lists}")
  }

  /** Incremental add with classic IVF semantics: new vectors are assigned
    * (and coded) against the FROZEN model and appended as fresh sorted
    * files, whose row groups prune exactly like the build's. List balance
    * drifts as the distribution moves; [[rebalance]] is the remedy. */
  def append(vecs: DataFrame, idCol: String, vecCol: String, path: String): Unit = {
    val spark = vecs.sparkSession
    val st = VecStore.read(spark, path)
    val model = readModel(spark, path, st)
    require(model.cents.nonEmpty, s"no centroids at $path — build() first")
    val g = st.gen + 1
    write(rows(vecs, idCol, vecCol), path, st, model, gen = g, mode = "append")
    VecStore.commit(spark, path, st.copy(gen = g))
  }

  /** Retire vectors by id: appends generation tombstones (see [[VecStore]])
    * that every search pass filters — for Pq the code-only candidate scan
    * AND the float fetch-back. A later [[append]] of the same id is alive
    * again (the text index's delete-then-upsert semantics). */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String = "vec_id"): Unit =
    VecStore.delete(spark, path, ids, idCol)

  /** driver-literal convenience for small takedown lists */
  def delete(spark: SparkSession, path: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    delete(spark, path, ids.toDS().toDF("vec_id"), "vec_id")
  }

  /** Fold tombstones into the data: rewrite the survivors (gen 0) against
    * the unchanged model into fresh directories, then swap the state — a
    * reader sees the old tombstoned index or the compacted one, never a
    * half-rewrite. */
  def compact(spark: SparkSession, path: String): Unit = rewrite(spark, path, None)

  /** Re-train the centroids on the SURVIVING corpus ([[trainCentroids]],
    * hash-seeded so the skewed mode that motivated the rebalance gets
    * split) and rewrite the survivors against them, like [[compact]]. Pq
    * codebooks are kept: codes do not depend on list assignment, and only
    * a shift in the vectors themselves warrants a codebook re-train, which
    * is a full [[build]]. */
  def rebalance(spark: SparkSession, path: String, iters: Int = 5): Unit =
    rewrite(spark, path, Some(iters))

  private def rewrite(spark: SparkSession, path: String, retrain: Option[Int]): Unit = {
    import spark.implicits._
    val st = VecStore.read(spark, path)
    val model = readModel(spark, path, st)
    val tag = (if (retrain.isEmpty) "c" else "r") + VecStore.nextVersion(spark, path)
    val next = VecStore.State(0L, s"lists-$tag",
      if (model.payload == Flat) st.vecs else s"vecs-$tag", s"deletes-$tag",
      if (retrain.isEmpty) st.cents else s"centroids-$tag")
    // Pq keeps only ids that have a code: the orphan floats of a failed
    // append stay unreferenced instead of being coded here
    val vecs = aliveVecs(spark, path, st, model)
    val survivors = (if (model.payload == Flat) vecs
      else vecs.join(alive(spark, path, st, st.lists).select("vec_id"), Seq("vec_id"), "left_semi"))
      .as[(Long, Array[Float])]
    // read once more by the Lloyd rounds or the Pq vecs write
    if (retrain.nonEmpty || model.payload != Flat) survivors.persist()
    try {
      val cents = retrain.fold(model.cents) { iters =>
        val cs = trainCentroids(survivors.toDF(), "vec_id", "vec", model.cents.length,
          iters, hashSeeds = true).toArray
        writeCentroids(spark, cs, s"$path/${next.cents}")
        cs
      }
      write(survivors, path, next, model.copy(cents = cents), gen = 0L, mode = "overwrite")
      VecStore.commit(spark, path, next)
    } finally survivors.unpersist()
  }

  private def alive(spark: SparkSession, path: String, st: VecStore.State,
      table: String): DataFrame =
    VecStore.alive(spark, path, st, VecStore.withGen(spark.read.parquet(s"$path/$table")))

  /** surviving `(vec_id, vec)` rows: the lists of a Flat index, the vecs
    * table of a Pq one */
  private[ml] def aliveVecs(spark: SparkSession, path: String, st: VecStore.State,
      model: Model): DataFrame =
    alive(spark, path, st, if (model.payload == Flat) st.lists else st.vecs)
      .select(col("vec_id"), col("vec"))

  /** Per-list surviving-row counts INCLUDING empty lists — the list-balance
    * health metric appends drift. One scan of two narrow columns. */
  def listStats(spark: SparkSession, path: String): DataFrame = {
    val st = VecStore.read(spark, path)
    val nlist = readModel(spark, path, st).cents.length
    val counts = alive(spark, path, st, st.lists)
      .groupBy(col("list_id")).agg(count(lit(1)).as("n"))
    spark.range(0, nlist).select(col("id").cast("int").as("list_id"))
      .join(counts, Seq("list_id"), "left")
      .select(col("list_id"), coalesce(col("n"), lit(0L)).as("n"))
  }

  /** max/mean list size — 1.0 is perfectly balanced; sustained skew means
    * probes over-read hot lists and recall@nprobe drifts down. */
  def imbalance(spark: SparkSession, path: String): Double = {
    import spark.implicits._
    val stats = listStats(spark, path).select(col("n")).as[Long].collect()
    val total = stats.sum.toDouble
    if (total == 0) 1.0 else stats.max / (total / stats.length)
  }

  /** The pruned candidate pass over the nprobe probed lists: tombstone-
    * filtered rows minus `excludeId`, as `(vec_id, vec)` for Flat and
    * `(vec_id, adc)` for Pq. The `list_id IN` predicate pushes into the
    * parquet scan, and a Pq scan's ReadSchema carries no float column
    * (ExplainCheck rules 8 and 13). */
  def candidates(spark: SparkSession, path: String, query: Array[Float],
      nprobe: Int, excludeId: Option[Long] = None): DataFrame = {
    val st = VecStore.read(spark, path)
    candidates(spark, path, st, readModel(spark, path, st), query, nprobe, excludeId)
  }

  private def candidates(spark: SparkSession, path: String, st: VecStore.State,
      model: Model, query: Array[Float], nprobe: Int,
      excludeId: Option[Long]): DataFrame = {
    // tombstone filter BEFORE the projection: one narrow gen column when
    // deletes exist, plan-identical when none do
    val lists = alive(spark, path, st, st.lists)
      .where(col("list_id").isin(probe(query, model.cents, nprobe): _*))
    val base = excludeId.fold(lists)(id => lists.where(col("vec_id") =!= id))
    model.payload match {
      case Flat => base.select(col("vec_id"), col("vec"))
      case Pq(m, kCent) =>
        val dim = model.cents.head.length
        require(query.length == dim, s"query dim ${query.length} != index dim $dim")
        val lut = typedLit(PqIndex.lutFor(model.books, query, kCent).toSeq)
        base.select(col("vec_id"), PqIndex.adcColumn(lut, col("code"), m, kCent).as("adc"))
    }
  }

  /** Top-k `(vec_id, cos)` among the probed lists: Flat ranks the probed
    * rows by exact cosine; Pq takes the top-`rerank` ids by ADC and
    * re-ranks their fetched floats. `nprobe = nlist` (∧ `rerank ≥ corpus`)
    * is exact brute force. */
  def search(spark: SparkSession, path: String, query: Array[Float],
      k: Int, nprobe: Int, rerank: Int = 0,
      excludeId: Option[Long] = None): DataFrame = {
    val st = VecStore.read(spark, path)
    val model = readModel(spark, path, st)
    val cands = candidates(spark, path, st, model, query, nprobe, excludeId)
    model.payload match {
      case Flat => Similarity.cosineTopK(cands, "vec_id", "vec", query, k)
      case _: Pq =>
        require(rerank > 0, "a Pq index searches with rerank > 0")
        val topIds = cands.orderBy(desc("adc"), asc("vec_id")).limit(rerank)
          .select(col("vec_id"))
        // fetch-back over SURVIVING vecs: a deleted-then-reappended id
        // would otherwise resolve both its stale and its fresh floats
        PqIndex.rerankExact(aliveVecs(spark, path, st, model), topIds, rerank, query, k)
    }
  }

  /** BATCH search: top-k `(qid, rank, vec_id, cos)` per query for a whole
    * query TABLE. Each query expands to its nprobe nearest lists (the
    * driver holds only the model), joins the lists on list_id (one
    * pushed-down IN over the union of probed lists) and, for Pq, scores
    * ADC against a per-query lookup-table column, window-ranks to the top
    * `rerank` ids and joins their floats. Both payloads then window-rank by
    * RAW cosine, like the batch oracle. A million queries cost a few joins
    * and window ranks, never a million driver jobs. */
  def searchBatch(spark: SparkSession, path: String, queries: DataFrame,
      qidCol: String, qvecCol: String, k: Int, nprobe: Int,
      rerank: Int = 0): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val st = VecStore.read(spark, path)
    val model = readModel(spark, path, st)
    require(model.payload == Flat || rerank > 0, "a Pq index searches with rerank > 0")
    val bc = spark.sparkContext.broadcast(model)
    val probes = queries
      .select(col(qidCol).cast("long").as("qid"), col(qvecCol).as("qv"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, qv) =>
        val lut = bc.value.payload match {
          case Pq(_, kCent) => Some(PqIndex.lutFor(bc.value.books, qv, kCent))
          case Flat => None
        }
        probe(qv, bc.value.cents, nprobe).map(lid => (qid, lid, qv, lut))
      }.toDF("qid", "list_id", "qv", "lut")
    val touched = probes.select($"list_id").distinct().as[Int].collect().toSeq
    val cands = probes
      .join(alive(spark, path, st, st.lists).where(col("list_id").isin(touched: _*)),
        Seq("list_id"))
      .where(col("vec_id") =!= col("qid"))
    val scored = model.payload match {
      case Flat => cands
      case Pq(m, kCent) =>
        val wAdc = Window.partitionBy($"qid").orderBy(desc("adc"), asc("vec_id"))
        cands.select($"qid", $"vec_id", $"qv",
            PqIndex.adcColumn($"lut", $"code", m, kCent).as("adc"))
          .withColumn("arank", row_number().over(wAdc))
          .where($"arank" <= rerank)
          .join(aliveVecs(spark, path, st, model), Seq("vec_id"))
    }
    val w = Window.partitionBy($"qid").orderBy(desc("cos"), asc("vec_id"))
    scored.select($"qid", $"vec_id", Similarity.cosine($"vec", $"qv").as("cos"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= k)
      .select($"qid", $"rank", $"vec_id", round($"cos", 4).as("cos"))
  }
}
