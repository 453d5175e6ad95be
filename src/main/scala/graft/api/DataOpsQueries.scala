package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.Similarity
import graft.ml.AnnIndex.Pq
import graft.textops.{Dedup, Mixing, TextAnalysis}

/** Training-data pipeline operators (dedup / similarity / text analysis /
  * multimodal plumbing) as correctness-gate queries. Every step that hashes
  * uses engine-independent arithmetic (PolyHash / integer lattices), so each
  * oracle replicates the *same* algorithm in DuckDB — these are exact-match
  * oracles, not statistical ones.
  */
object DataOpsQueries {

  /** shared oracle snippet: char-fold polynomial hash of a string column */
  private def sqlPolyHash(expr: String, mult: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split($expr, ''), " +
      s"c -> CAST(unicode(c) AS BIGINT))), (h, c) -> (h * $mult + c) % 1000000007)"

  // ---- dedup ----

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.table(spark, dir, "documents"), "doc_id", "text")
      .orderBy("keep_id")

  val dedupExactSql: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
      |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin

  def dedupExactNorm(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactNormalized(Tables.table(spark, dir, "documents"), "doc_id", "text")
      .orderBy("keep_id")

  val dedupExactNormSql: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
      |FROM documents
      |GROUP BY array_to_string(list_sort(string_split(text, ' ')), ' ')
      |ORDER BY keep_id""".stripMargin

  /** shared oracle CTE: distinct word-3-gram shingles per doc */
  private val ShingleProlog: String =
    s"""WITH tl AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |shs AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
       |        FROM tl, unnest(range(1, len(toks) - 1)) AS u(i)),
       |sh AS (SELECT DISTINCT doc_id, ${sqlPolyHash("shingle", 31)} AS h FROM shs),
       |sz AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY 1)
       |""".stripMargin

  def dedupJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(Tables.table(spark, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.8, maxShingleDf = 100)
      .orderBy("doc_a", "doc_b")

  val dedupJaccardSql: String = ShingleProlog +
    """, common AS (SELECT h FROM sh GROUP BY 1 HAVING count(*) <= 100),
      |f AS (SELECT sh.doc_id, sh.h FROM sh JOIN common USING (h)),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS m
      |  FROM f a JOIN f b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |  round(CAST(m AS DOUBLE) / (sa.nsh + sb.nsh - m), 4) AS jaccard
      |FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
      |WHERE CAST(m AS DOUBLE) / (sa.nsh + sb.nsh - m) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** near-dup pairs → dedup CLUSTERS: connected components over the
    * minhash-LSH pair set (pointer-jumping min-label propagation); the
    * oracle replays reachability as a recursive CTE. */
  def dedupComponentsQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
        Dedup.minhashLshPairs(Tables.table(spark, dir, "documents"),
          "doc_id", "text", n = 3, bands = 4, rows = 4, threshold = 0.8),
        "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("comp").as("component"))
      .orderBy("doc_id")

  private def componentsProlog(pairsSql: String): String =
    s"""WITH RECURSIVE pairs AS (
       |$pairsSql
       |),
       |cedges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT DISTINCT u AS id, u AS r FROM cedges
       |  UNION SELECT reach.id, e.v FROM reach JOIN cedges e ON reach.r = e.u)
       |""".stripMargin

  def dedupComponentsSql: String = componentsProlog(dedupMinhashLshSql) +
    """SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS component
      |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin

  /** the actionable dedup decision list: every non-canonical member of a
    * component, with the canonical (min-id) doc it duplicates */
  def dedupDropListQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
        Dedup.minhashLshPairs(Tables.table(spark, dir, "documents"),
          "doc_id", "text", n = 3, bands = 4, rows = 4, threshold = 0.8),
        "doc_a", "doc_b")
      .where(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"), col("comp").as("kept_id"))
      .orderBy("doc_id")

  def dedupDropListSql: String = componentsProlog(dedupMinhashLshSql) +
    """SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS kept_id
      |FROM reach GROUP BY 1 HAVING min(r) <> id ORDER BY 1""".stripMargin

  /** canonical selection: per near-dup cluster keep the member with the
    * best quality score (ties -> smallest id) — Dedup.keepBest over the
    * LSH components and TextAnalysis.quality */
  def dedupKeepBestQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(spark, dir, "documents")
    val comps = Dedup.connectedComponents(
      Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, bands = 4, rows = 4, threshold = 0.8), "doc_a", "doc_b")
    val q = TextAnalysis.quality(docs, "doc_id", "text")
      .select(col("doc_id"), col("quality"))
    Dedup.keepBest(comps, q, "doc_id", "quality")
      .select(col("id").as("doc_id"), col("comp").as("component"), col("kept_id"))
      .orderBy("doc_id")
  }

  def dedupKeepBestSql: String = componentsProlog(dedupMinhashLshSql) +
    """, comp AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS component
      |    FROM reach GROUP BY 1),
      |qbase AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
      |    len(list_distinct(string_split(text, ' '))) AS n_distinct,
      |    length(text) AS n_chars FROM documents),
      |qf AS (SELECT doc_id,
      |    floor((0.5 * (CAST(n_distinct AS DOUBLE) / n_tokens)
      |      + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
      |      + 0.2 * (1.0 - abs((CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens) - 5.0) / 5.0))
      |      * 10000) / 10000.0 AS quality
      |  FROM qbase),
      |ranked AS (SELECT c.doc_id, c.component,
      |    row_number() OVER (PARTITION BY c.component
      |      ORDER BY q.quality DESC, c.doc_id ASC) AS rn
      |  FROM comp c JOIN qf q USING (doc_id)),
      |kept AS (SELECT component, doc_id AS kid FROM ranked WHERE rn = 1)
      |SELECT c.doc_id, c.component, CAST(k.kid AS BIGINT) AS kept_id
      |FROM comp c JOIN kept k USING (component) ORDER BY c.doc_id""".stripMargin

  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(Tables.table(spark, dir, "documents"), "doc_id", "text",
        n = 3, bands = 4, rows = 4, threshold = 0.8)
      .orderBy("doc_a", "doc_b")

  val dedupMinhashLshSql: String = ShingleProlog +
    s""", mh AS (
       |  SELECT doc_id, i,
       |    min(((2 * i + 1) * h + 12345 * i + 7) % 1000000007) AS v
       |  FROM sh, unnest(range(0, 16)) AS u(i) GROUP BY 1, 2),
       |bandkey AS (
       |  SELECT doc_id, CAST(i / 4 AS INT) AS band,
       |    list_reduce(list(v ORDER BY i), (a, b) -> a * 31 + b) AS key
       |  FROM mh GROUP BY 1, 2),
       |small AS (SELECT band, key FROM bandkey GROUP BY 1, 2 HAVING count(*) <= 256),
       |fb AS (SELECT bandkey.* FROM bandkey JOIN small USING (band, key)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM fb x JOIN fb y
       |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS m
       |  FROM cand c JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  round(CAST(m AS DOUBLE) / (sa.nsh + sb.nsh - m), 4) AS jaccard
       |FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
       |WHERE CAST(m AS DOUBLE) / (sa.nsh + sb.nsh - m) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhash(Tables.table(spark, dir, "documents"), "doc_id", "text", bits = 16)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  val dedupSimhashSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |th AS (SELECT doc_id, term, tf, ${sqlPolyHash("term", 131)} AS h FROM tf),
       |bits AS (
       |  SELECT doc_id, j,
       |    sum(tf * (((h // CAST(power(2, j) AS BIGINT)) % 2) * 2 - 1)) AS s
       |  FROM th, unnest(range(0, 16)) AS u(j) GROUP BY 1, 2)
       |SELECT doc_id,
       |  CAST(sum(CASE WHEN s > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
       |FROM bits GROUP BY 1 ORDER BY doc_id""".stripMargin

  def dedupSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.table(spark, dir, "documents"), "doc_id", "text",
        bits = 48, maxDist = 2, maxBandDf = 256)
      .orderBy("doc_a", "doc_b")

  /** 48-bit signatures (bits 0-29 from polyhash, 30-47 from its affine
    * re-mix (31h+17) mod P — the scale-safe default: three 16-bit pigeonhole
    * chunks), band buckets capped at 256 members before the self-join
    * (mirrors Dedup.simhashPairs maxBandDf), exact popcount(xor) verify */
  val dedupSimhashPairsSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |th AS (SELECT doc_id, term, tf, ${sqlPolyHash("term", 131)} AS h FROM tf),
       |th2 AS (SELECT doc_id, term, tf, h, (31 * h + 17) % 1000000007 AS h2 FROM th),
       |bits AS (
       |  SELECT doc_id, j,
       |    sum(tf * ((((CASE WHEN j < 30 THEN h ELSE h2 END)
       |      // CAST(power(2, j % 30) AS BIGINT)) % 2) * 2 - 1)) AS s
       |  FROM th2, unnest(range(0, 48)) AS u(j) GROUP BY 1, 2),
       |sig AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN s > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY 1),
       |banded AS (
       |  SELECT doc_id, simhash, b,
       |    (simhash // CAST(power(2, b * 16) AS BIGINT)) % 65536 AS key
       |  FROM sig, unnest(range(0, 3)) AS u(b)),
       |keep AS (SELECT b, key FROM banded GROUP BY 1, 2 HAVING count(*) <= 256),
       |fb AS (SELECT banded.* FROM banded JOIN keep USING (b, key)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    x.simhash AS sa, y.simhash AS sb
       |  FROM fb x JOIN fb y
       |    ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 2
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- similarity search ----

  private def queryVec(spark: SparkSession, dir: String): Array[Float] = {
    import spark.implicits._
    Tables.table(spark, dir, "embeddings").where(col("vec_id") === 0L)
      .select("embedding").as[Array[Float]].head()
  }

  def annCosineTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineTopK(Tables.table(spark, dir, "embeddings"),
      "vec_id", "embedding", queryVec(spark, dir), k = 10, excludeId = Some(0L))

  /** brute-force cosine top-10 vs the vec_id=0 query over the rows
    * `extraWhere` keeps — the shared exact oracle for every persisted-index
    * gate (full-probe/full-rerank searches must hash-match it; the delete
    * gates restrict it to the SURVIVING corpus) */
  private def bruteCosineTopKSql(extraWhere: String): String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |scored AS (
       |  SELECT vec_id,
       |    list_reduce(list_prepend(0.0, list_transform(list_zip(embedding, qv),
       |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (a, b) -> a + b) /
       |    (sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) *
       |     sqrt(list_reduce(list_prepend(0.0, list_transform(qv,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b))) AS cos
       |  FROM embeddings CROSS JOIN q WHERE vec_id <> 0 AND $extraWhere)
       |SELECT vec_id, round(cos, 4) AS cos FROM scored
       |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin

  val annCosineTopKSql: String = bruteCosineTopKSql("TRUE")

  def annLshBuckets(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshBuckets(Tables.table(spark, dir, "embeddings"),
      "vec_id", "embedding", dim = 64, planes = 8)
      .orderBy("vec_id")

  val annLshBucketsSql: String =
    """WITH dots AS (
      |  SELECT vec_id, j,
      |    list_reduce(list_prepend(0.0, list_transform(
      |      list_zip(embedding, range(0, 64)),
      |      p -> CAST(p[1] AS DOUBLE) *
      |           CAST(((j * 131071 + p[2] * 524287) % 1000003) % 7 - 3 AS DOUBLE))),
      |      (a, b) -> a + b) AS d
      |  FROM embeddings, unnest(range(0, 8)) AS u(j))
      |SELECT vec_id,
      |  CAST(sum(CASE WHEN d > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      |FROM dots GROUP BY 1 ORDER BY vec_id""".stripMargin

  /** embedding-cosine near-dup PAIRS (LSH-blocked + exact verify) — the
    * embedding leg of the dedup family */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(Tables.table(spark, dir, "embeddings"),
      "vec_id", "embedding", dim = 64, minCos = 0.4, planes = 8)
      .orderBy("a_id", "b_id")

  val dedupEmbeddingSql: String =
    """WITH dots AS (
      |  SELECT vec_id, j,
      |    list_reduce(list_prepend(0.0, list_transform(
      |      list_zip(embedding, range(0, 64)),
      |      p -> CAST(p[1] AS DOUBLE) *
      |           CAST(((j * 131071 + p[2] * 524287) % 1000003) % 7 - 3 AS DOUBLE))),
      |      (a, b) -> a + b) AS d
      |  FROM embeddings, unnest(range(0, 8)) AS u(j)),
      |buckets AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN d > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM dots GROUP BY 1),
      |keep AS (SELECT bucket FROM buckets GROUP BY 1 HAVING count(*) <= 10000),
      |wv AS (SELECT b.vec_id, b.bucket, e.embedding
      |       FROM buckets b JOIN keep USING (bucket)
      |       JOIN embeddings e USING (vec_id)),
      |pairs AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |    list_reduce(list_prepend(0.0, list_transform(list_zip(a.embedding, b.embedding),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y) /
      |    (sqrt(list_reduce(list_prepend(0.0, list_transform(a.embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (x, y) -> x + y)) *
      |     sqrt(list_reduce(list_prepend(0.0, list_transform(b.embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (x, y) -> x + y))) AS cos
      |  FROM wv a JOIN wv b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
      |SELECT a_id, b_id, round(cos, 4) AS cos FROM pairs
      |WHERE cos >= 0.4 ORDER BY a_id, b_id""".stripMargin

  def annLshTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.annTopK(Tables.table(spark, dir, "embeddings"),
      "vec_id", "embedding", queryVec(spark, dir), dim = 64, k = 5, planes = 8)

  val annLshTopKSql: String =
    """WITH dots AS (
      |  SELECT vec_id, j,
      |    list_reduce(list_prepend(0.0, list_transform(
      |      list_zip(embedding, range(0, 64)),
      |      p -> CAST(p[1] AS DOUBLE) *
      |           CAST(((j * 131071 + p[2] * 524287) % 1000003) % 7 - 3 AS DOUBLE))),
      |      (a, b) -> a + b) AS d
      |  FROM embeddings, unnest(range(0, 8)) AS u(j)),
      |buckets AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN d > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM dots GROUP BY 1),
      |qb AS (SELECT bucket FROM buckets WHERE vec_id = 0),
      |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |cand AS (SELECT b.vec_id FROM buckets b JOIN qb USING (bucket)),
      |scored AS (
      |  SELECT e.vec_id,
      |    list_reduce(list_prepend(0.0, list_transform(list_zip(e.embedding, qv),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (a, b) -> a + b) /
      |    (sqrt(list_reduce(list_prepend(0.0, list_transform(e.embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) *
      |     sqrt(list_reduce(list_prepend(0.0, list_transform(qv,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b))) AS cos
      |  FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q)
      |SELECT vec_id, round(cos, 4) AS cos FROM scored
      |ORDER BY cos DESC, vec_id LIMIT 5""".stripMargin

  /** multi-probe LSH ANN: the query bucket + its Hamming-1 shell (9 of 256
    * buckets probed) — recall recovery without halving the plane count */
  def annMultiprobeTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.annTopKMultiProbe(Tables.table(spark, dir, "embeddings"),
      "vec_id", "embedding", queryVec(spark, dir), dim = 64, k = 5, planes = 8)

  val annMultiprobeTopKSql: String =
    """WITH dots AS (
      |  SELECT vec_id, j,
      |    list_reduce(list_prepend(0.0, list_transform(
      |      list_zip(embedding, range(0, 64)),
      |      p -> CAST(p[1] AS DOUBLE) *
      |           CAST(((j * 131071 + p[2] * 524287) % 1000003) % 7 - 3 AS DOUBLE))),
      |      (a, b) -> a + b) AS d
      |  FROM embeddings, unnest(range(0, 8)) AS u(j)),
      |buckets AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN d > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM dots GROUP BY 1),
      |qb AS (SELECT bucket FROM buckets WHERE vec_id = 0),
      |probes AS (
      |  SELECT bucket FROM qb
      |  UNION
      |  SELECT xor(qb.bucket, CAST(power(2, j) AS BIGINT)) AS bucket
      |  FROM qb, unnest(range(0, 8)) AS u(j)),
      |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |cand AS (SELECT b.vec_id FROM buckets b JOIN probes USING (bucket)),
      |scored AS (
      |  SELECT e.vec_id,
      |    list_reduce(list_prepend(0.0, list_transform(list_zip(e.embedding, qv),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (a, b) -> a + b) /
      |    (sqrt(list_reduce(list_prepend(0.0, list_transform(e.embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) *
      |     sqrt(list_reduce(list_prepend(0.0, list_transform(qv,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b))) AS cos
      |  FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q)
      |SELECT vec_id, round(cos, 4) AS cos FROM scored
      |ORDER BY cos DESC, vec_id LIMIT 5""".stripMargin

  /** per-JVM cache of persisted ANN artifacts keyed by (sfDir, leaf) — ONE
    * definition of the key sanitization + cache-root convention for every
    * gate that builds an on-disk index */
  private val annArtifacts = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def cachedArtifact(dir: String, leaf: String)(build: String => Unit): String = {
    val key = dir.replaceAll("[^a-zA-Z0-9.]", "_")
    annArtifacts.computeIfAbsent(s"$key/$leaf", { _ =>
      val p = s"/tmp/graft-cache/$key/$leaf"
      build(p)
      p
    })
  }

  /** IVF-FLAT persisted-index search. Probing ALL lists makes the result
    * exactly the brute-force top-k — which the oracle checks hash-exact, so
    * the build/assign/probe/scan plumbing is verified end-to-end; recall at
    * nprobe < nlist and list_id scan pruning are covered by AnnIndexSpec. */
  def annIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val path = cachedArtifact(dir, "ivf-idx") { p =>
      graft.ml.AnnIndex.build(Tables.table(spark, dir, "embeddings"),
        "vec_id", "embedding", p, nlist = 16)
    }
    graft.ml.AnnIndex.search(spark, path, queryVec(spark, dir),
      k = 10, nprobe = 16, excludeId = Some(0L))
  }

  val annIvfTopKSql: String = annCosineTopKSql

  /** IVF search after an INCREMENTAL append: the index is built over the
    * even vec_ids only, the odd half arrives later via AnnIndex.append
    * (frozen centroids, fresh sorted files). Probing all lists makes the
    * result exactly the brute-force top-k over the WHOLE corpus — so the
    * append path (assignment against persisted centroids, file layout,
    * pushdown compatibility) is verified hash-exact end-to-end. */
  def annIvfAppend(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.table(spark, dir, "embeddings")
    val path = cachedArtifact(dir, "ivf-idx-append") { p =>
      graft.ml.AnnIndex.build(emb.where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", p, nlist = 16)
      graft.ml.AnnIndex.append(emb.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding", p)
    }
    graft.ml.AnnIndex.search(spark, path, queryVec(spark, dir),
      k = 10, nprobe = 16, excludeId = Some(0L))
  }

  val annIvfAppendSql: String = annCosineTopKSql

  /** Flat PQ persisted-index search (a Pq payload in one list, so every
    * code is scored). Re-ranking the WHOLE corpus makes the
    * result exactly the brute-force top-k — which the oracle checks
    * hash-exact, so codebook training, coding, the ADC lookup pass and
    * re-rank plumbing are verified end-to-end; ADC recall at small rerank
    * and the compression shape are PqIndexSpec territory. */
  def annPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val path = cachedArtifact(dir, "pq-idx") { p =>
      graft.ml.AnnIndex.build(Tables.table(spark, dir, "embeddings"),
        "vec_id", "embedding", p, nlist = 1, payload = Pq(8, 16))
    }
    // exactness precondition DERIVED, not assumed: rerank = corpus size
    // (a fixed constant would silently turn the hash-exact gate
    // approximate the day embeddings outgrows it)
    val n = Tables.table(spark, dir, "embeddings").count()
    require(n <= Int.MaxValue, s"embeddings rows $n exceed rerank addressability")
    graft.ml.AnnIndex.search(spark, path, queryVec(spark, dir),
      k = 10, nprobe = 1, rerank = n.toInt, excludeId = Some(0L))
  }

  val annPqTopKSql: String = annCosineTopKSql

  /** IVF+PQ composed-index search. Probing ALL lists with a full-corpus
    * re-rank makes the result exactly the brute-force top-k — which the
    * oracle checks hash-exact, so centroid assignment, shared-codebook
    * coding, the list-pruned code-only ADC scan, id-only candidate pass
    * and float fetch-back are verified end-to-end; recall at
    * nprobe < nlist / rerank < corpus and the no-floats-in-candidate-scan
    * property are IvfPqSpec + ExplainCheck rule 8 territory. */
  /** the shared IVF+PQ gate artifact (built once per JVM+dir; also used by
    * the bench harness's pruned-path timing) */
  def ivfPqIndexPath(spark: SparkSession, dir: String): String =
    cachedArtifact(dir, "ivfpq-idx") { p =>
      graft.ml.AnnIndex.build(Tables.table(spark, dir, "embeddings"),
        "vec_id", "embedding", p, nlist = 16, payload = Pq(8, 16))
    }

  def annIvfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val path = ivfPqIndexPath(spark, dir)
    // exactness precondition DERIVED, not assumed (see annPqTopK)
    val n = Tables.table(spark, dir, "embeddings").count()
    require(n <= Int.MaxValue, s"embeddings rows $n exceed rerank addressability")
    graft.ml.AnnIndex.search(spark, path, queryVec(spark, dir),
      k = 10, nprobe = 16, rerank = n.toInt, excludeId = Some(0L))
  }

  val annIvfPqTopKSql: String = annCosineTopKSql

  /** IVF+PQ after an INCREMENTAL append: model (centroids + codebooks)
    * trained on the even half only, odd half appended with the frozen
    * model; full probe + full rerank makes the result exactly the
    * brute-force top-k over the whole corpus, so the append path's
    * assignment, coding, and both appended tables verify hash-exact. */
  def annIvfPqAppend(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.table(spark, dir, "embeddings")
    val path = cachedArtifact(dir, "ivfpq-idx-append") { p =>
      graft.ml.AnnIndex.build(emb.where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", p, nlist = 16, payload = Pq(8, 16))
      graft.ml.AnnIndex.append(emb.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding", p)
    }
    val n = emb.count()
    require(n <= Int.MaxValue, s"embeddings rows $n exceed rerank addressability")
    graft.ml.AnnIndex.search(spark, path, queryVec(spark, dir),
      k = 10, nprobe = 16, rerank = n.toInt, excludeId = Some(0L))
  }

  val annIvfPqAppendSql: String = annCosineTopKSql

  /** IVF DELETE: build evens → append odds → tombstone every vec_id%7==3.
    * Probing all lists makes the search exactly the brute-force top-k over
    * the SURVIVING corpus — so the tombstone filter (generation semantics,
    * max-gen fold, join placement before the score) is verified hash-exact
    * end-to-end. Id-reuse (delete-then-append) and compaction equivalence
    * are AnnIndexSpec territory. */
  def annIvfDelete(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.table(spark, dir, "embeddings")
    val path = cachedArtifact(dir, "ivf-idx-delete") { p =>
      graft.ml.AnnIndex.build(emb.where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", p, nlist = 16)
      graft.ml.AnnIndex.append(emb.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding", p)
      graft.ml.AnnIndex.delete(spark, p,
        emb.where(col("vec_id") % 7 === 3).select("vec_id"), "vec_id")
    }
    graft.ml.AnnIndex.search(spark, path, queryVec(spark, dir),
      k = 10, nprobe = 16, excludeId = Some(0L))
  }

  val annIvfDeleteSql: String = bruteCosineTopKSql("vec_id % 7 <> 3")

  /** IVF+PQ DELETE + COMPACT: build evens → append odds → tombstone
    * vec_id%7==3 → compact (folds the tombstones into fresh list/vec dirs
    * behind the atomic state swap) → full-probe full-rerank search. The
    * result must hash-match brute force over the survivors, so BOTH the
    * tombstone-filtered candidate/fetch-back paths and the compacted
    * rewrite verify against the same oracle. */
  def annIvfPqDelete(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.table(spark, dir, "embeddings")
    val path = cachedArtifact(dir, "ivfpq-idx-delete") { p =>
      graft.ml.AnnIndex.build(emb.where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", p, nlist = 16, payload = Pq(8, 16))
      graft.ml.AnnIndex.append(emb.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding", p)
      graft.ml.AnnIndex.delete(spark, p,
        emb.where(col("vec_id") % 7 === 3).select("vec_id"), "vec_id")
      graft.ml.AnnIndex.compact(spark, p)
    }
    val n = emb.count()
    require(n <= Int.MaxValue, s"embeddings rows $n exceed rerank addressability")
    graft.ml.AnnIndex.search(spark, path, queryVec(spark, dir),
      k = 10, nprobe = 16, rerank = n.toInt, excludeId = Some(0L))
  }

  val annIvfPqDeleteSql: String = bruteCosineTopKSql("vec_id % 7 <> 3")

  /** IVF REBALANCE: centroids seeded from a 32-vector prefix (a model the
    * rest of the corpus never trained — the worst-case skew a frozen-model
    * append accumulates), the remaining corpus appended, vec_id%11==5
    * tombstoned, then `rebalance()` re-trains centroids on the survivors
    * and rewrites the lists (folding the tombstones) behind the atomic
    * state swap. Full-probe search must hash-match brute force over the
    * survivors — rebalance may move every vector between lists but can
    * never lose, resurrect, or duplicate one. The recall@nprobe recovery
    * and imbalance-metric drop are AnnIndexSpec territory. */
  def annIvfRebalance(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.table(spark, dir, "embeddings")
    val path = cachedArtifact(dir, "ivf-idx-rebalance") { p =>
      graft.ml.AnnIndex.build(emb.where(col("vec_id") < 32),
        "vec_id", "embedding", p, nlist = 8)
      graft.ml.AnnIndex.append(emb.where(col("vec_id") >= 32),
        "vec_id", "embedding", p)
      graft.ml.AnnIndex.delete(spark, p,
        emb.where(col("vec_id") % 11 === 5).select("vec_id"), "vec_id")
      graft.ml.AnnIndex.rebalance(spark, p, iters = 3)
    }
    graft.ml.AnnIndex.search(spark, path, queryVec(spark, dir),
      k = 10, nprobe = 8, excludeId = Some(0L))
  }

  val annIvfRebalanceSql: String = bruteCosineTopKSql("vec_id % 11 <> 5")

  /** IVF+PQ REBALANCE: same lifecycle as ann_ivf_rebalance on the composed
    * index — skewed model (32-vector prefix) + append + delete, then
    * `AnnIndex.rebalance` re-lists the survivors against re-trained centroids
    * (codebooks kept — shared-codebook codes are list-independent). Full
    * probe + full rerank must still hash-match brute force over the
    * survivors. */
  def annIvfPqRebalance(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.table(spark, dir, "embeddings")
    val path = cachedArtifact(dir, "ivfpq-idx-rebalance") { p =>
      graft.ml.AnnIndex.build(emb.where(col("vec_id") < 32),
        "vec_id", "embedding", p, nlist = 8, payload = Pq(8, 16))
      graft.ml.AnnIndex.append(emb.where(col("vec_id") >= 32),
        "vec_id", "embedding", p)
      graft.ml.AnnIndex.delete(spark, p,
        emb.where(col("vec_id") % 11 === 5).select("vec_id"), "vec_id")
      graft.ml.AnnIndex.rebalance(spark, p, iters = 3)
    }
    val n = emb.count()
    require(n <= Int.MaxValue, s"embeddings rows $n exceed rerank addressability")
    graft.ml.AnnIndex.search(spark, path, queryVec(spark, dir),
      k = 10, nprobe = 8, rerank = n.toInt, excludeId = Some(0L))
  }

  val annIvfPqRebalanceSql: String = bruteCosineTopKSql("vec_id % 11 <> 5")

  /** BATCH IVF+PQ: 5 query vectors, all lists probed + full-corpus rerank
    * (exact path — the code-only ADC join, per-query column LUT, float
    * fetch-back and double window rank verified hash-exact vs brute
    * force; pruned-probe recall is IvfPqSpec territory). */
  def annIvfPqBatch(spark: SparkSession, dir: String): DataFrame = {
    val path = ivfPqIndexPath(spark, dir)
    val e = Tables.table(spark, dir, "embeddings")
    val n = e.count()
    require(n <= Int.MaxValue, s"embeddings rows $n exceed rerank addressability")
    graft.ml.AnnIndex.searchBatch(spark, path,
        e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 3, nprobe = 16, rerank = n.toInt)
      .orderBy("qid", "rank")
  }

  // lazy: annIvfBatchSql is defined later in this object — a strict val
  // here would capture null at init order
  lazy val annIvfPqBatchSql: String = annIvfBatchSql

  /** BATCH IVF search over the persisted index: 5 query vectors probing
    * ALL lists (exact path — plumbing verified hash-exact vs brute force;
    * nprobe < nlist recall is AnnIndexSpec territory) in ONE join +
    * window rank. */
  def annIvfBatch(spark: SparkSession, dir: String): DataFrame = {
    val path = cachedArtifact(dir, "ivf-idx") { p =>
      graft.ml.AnnIndex.build(Tables.table(spark, dir, "embeddings"),
        "vec_id", "embedding", p, nlist = 16)
    }
    val e = Tables.table(spark, dir, "embeddings")
    graft.ml.AnnIndex.searchBatch(spark, path,
        e.where(col("vec_id") < 5), "vec_id", "embedding", k = 3, nprobe = 16)
      .orderBy("qid", "rank")
  }

  val annIvfBatchSql: String =
    """WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
      |cand AS (
      |  SELECT q.qid, e.vec_id,
      |    list_reduce(list_prepend(0.0, list_transform(list_zip(e.embedding, q.qv),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (a, b) -> a + b) /
      |    (sqrt(list_reduce(list_prepend(0.0, list_transform(e.embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) *
      |     sqrt(list_reduce(list_prepend(0.0, list_transform(q.qv,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b))) AS cos
      |  FROM embeddings e CROSS JOIN qs q WHERE e.vec_id <> q.qid),
      |ranked AS (
      |  SELECT qid, vec_id, cos,
      |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
      |  FROM cand)
      |SELECT qid, rank, vec_id, round(cos, 4) AS cos FROM ranked
      |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  /** batch ANN: top-3 per query for 5 query vectors in one bucketed join +
    * window rank (the multi-query scale path — no per-query jobs) */
  def annBatchTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
    Similarity.annTopKBatch(e, "vec_id", "embedding",
        e.where(col("vec_id") < 5), "vec_id", "embedding",
        dim = 64, k = 3, planes = 8)
      .orderBy("qid", "rank")
  }

  val annBatchTopKSql: String =
    """WITH dots AS (
      |  SELECT vec_id, j,
      |    list_reduce(list_prepend(0.0, list_transform(
      |      list_zip(embedding, range(0, 64)),
      |      p -> CAST(p[1] AS DOUBLE) *
      |           CAST(((j * 131071 + p[2] * 524287) % 1000003) % 7 - 3 AS DOUBLE))),
      |      (a, b) -> a + b) AS d
      |  FROM embeddings, unnest(range(0, 8)) AS u(j)),
      |buckets AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN d > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM dots GROUP BY 1),
      |qs AS (SELECT b.vec_id AS qid, b.bucket, e.embedding AS qv
      |       FROM buckets b JOIN embeddings e USING (vec_id) WHERE b.vec_id < 5),
      |cand AS (
      |  SELECT q.qid, b.vec_id,
      |    list_reduce(list_prepend(0.0, list_transform(list_zip(e.embedding, q.qv),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (a, b) -> a + b) /
      |    (sqrt(list_reduce(list_prepend(0.0, list_transform(e.embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) *
      |     sqrt(list_reduce(list_prepend(0.0, list_transform(q.qv,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b))) AS cos
      |  FROM qs q JOIN buckets b USING (bucket)
      |  JOIN embeddings e ON e.vec_id = b.vec_id
      |  WHERE b.vec_id <> q.qid),
      |ranked AS (
      |  SELECT qid, vec_id, cos,
      |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
      |  FROM cand)
      |SELECT qid, CAST(rank AS INT) AS rank, vec_id, round(cos, 4) AS cos
      |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  /** distance_inner_product / distance_l1_norm / distance_l2_norm_squared
    * (lib/distance.cpp:99-330 family) against the query vector */
  def vectorDistances(spark: SparkSession, dir: String): DataFrame = {
    import graft.ml.Similarity
    val qc = typedLit(queryVec(spark, dir).toSeq)
    Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"),
        // + 0.0 folds IEEE negative zero (round(1 - dot(q,q), 4) = -0.0)
        (round(Similarity.innerProductDistance(col("embedding"), qc), 4) + 0.0).as("d_ip"),
        (round(Similarity.l1Distance(col("embedding"), qc), 4) + 0.0).as("d_l1"),
        (round(Similarity.l2SquaredDistance(col("embedding"), qc), 4) + 0.0).as("d_l2sq"))
      .orderBy("vec_id")
  }

  val vectorDistancesSql: String =
    """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id,
      |  round(1.0 - list_reduce(list_prepend(0.0, list_transform(list_zip(embedding, qv),
      |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (a, b) -> a + b), 4) + 0.0 AS d_ip,
      |  round(list_reduce(list_prepend(0.0, list_transform(list_zip(embedding, qv),
      |    p -> abs(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), (a, b) -> a + b), 4) + 0.0 AS d_l1,
      |  round(list_reduce(list_prepend(0.0, list_transform(list_zip(embedding, qv),
      |    p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) *
      |         (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), (a, b) -> a + b), 4) + 0.0 AS d_l2sq
      |FROM embeddings CROSS JOIN q ORDER BY vec_id""".stripMargin

  /** deterministic integer-lattice k-means over the embeddings table:
    * k=8, 2 Lloyd iterations, thousandths lattice — document clustering
    * for topic balancing. Exact-match oracle (all-int64 arithmetic). */
  def kmeansClusters(spark: SparkSession, dir: String): DataFrame =
    graft.ml.KMeans.cluster(Tables.table(spark, dir, "embeddings"),
        "vec_id", "embedding", k = 8, iters = 2)
      .orderBy("vec_id")

  val kmeansClustersSql: String = graft.ml.KMeans.oracleSql(k = 8, iters = 2, dims = 64)

  // ---- text analysis ----

  def langIdQ(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.langId(Tables.table(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** DuckDB mirror GENERATED from the same 31-language profile constants
    * the Spark plan uses (TextAnalysis.langScoreSql) — one definition,
    * two engines. */
  val langIdSql: String = {
    val langs = TextAnalysis.Langs
    val scoreCols = langs.map(l =>
      s"${TextAnalysis.langScoreSql(l, "t", duck = true)} AS s_$l").mkString(",\n    ")
    val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
    val cases = langs.map(l => s"WHEN s_$l = $best THEN '$l'").mkString(" ")
    s"""WITH t0 AS (SELECT doc_id, ' ' || lower(text) || ' ' AS t FROM documents),
       |s AS (
       |  SELECT doc_id,
       |    $scoreCols
       |  FROM t0)
       |SELECT doc_id,
       |  CASE WHEN $best = 0 THEN 'und' $cases END AS lang_pred,
       |  CAST($best AS BIGINT) AS score
       |FROM s ORDER BY doc_id""".stripMargin
  }

  def qualityQ(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.quality(Tables.table(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  val qualitySql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    len(list_distinct(string_split(text, ' '))) AS n_distinct,
      |    length(text) AS n_chars
      |  FROM documents),
      |feat AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
      |    CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS mean_word_len
      |  FROM base)
      |SELECT doc_id, n_tokens,
      |  floor(distinct_ratio * 10000) / 10000.0 AS distinct_ratio,
      |  floor(mean_word_len * 10000) / 10000.0 AS mean_word_len,
      |  floor((0.5 * distinct_ratio + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
      |    + 0.2 * (1.0 - abs(mean_word_len - 5.0) / 5.0)) * 10000) / 10000.0 AS quality
      |FROM feat ORDER BY doc_id""".stripMargin

  def tokenCountQ(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenCounts(Tables.table(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  val tokenCountSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS INT) AS n_words,
      |  CAST(sum(CAST(ceil(length(t.term) / 4.0) AS BIGINT)) AS BIGINT) AS n_subwords
      |FROM documents d JOIN toks t USING (doc_id)
      |GROUP BY d.doc_id, d.text ORDER BY d.doc_id""".stripMargin

  def fingerprintQ(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprint(Tables.table(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  val fingerprintSql: String =
    s"""SELECT doc_id, ${sqlPolyHash("text", 131)} AS fp
       |FROM documents ORDER BY doc_id""".stripMargin

  def dedupSubstring(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedSpans(Tables.table(spark, dir, "documents"), "doc_id", "text",
        n = 8, minDocs = 2)
      .orderBy("doc_id", "span_start")

  /** same window/dup/gaps-and-islands pipeline in DuckDB: 8-token windows
    * keyed on their PolyHash (the engine's hashed shuffle key, replayed
    * exactly), duplicated = seen in >= 2 distinct docs, spans merged when
    * the next start is within n of the previous. */
  val dedupSubstringSql: String =
    s"""WITH tl AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |wins AS (
      |  SELECT doc_id, i AS pos,
      |    ${sqlPolyHash("array_to_string(toks[i:i+7], ' ')", 31)} AS h
      |  FROM tl, unnest(range(1, len(toks) - 6)) AS u(i)),
      |dup AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      |hits AS (SELECT doc_id, pos FROM wins JOIN dup USING (h)),
      |isl AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
      |                             -1000000) > 8 THEN 1 ELSE 0 END AS ni
      |  FROM hits),
      |isl2 AS (
      |  SELECT doc_id, pos,
      |    sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM isl)
      |SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
      |  CAST(max(pos) + 7 AS INT) AS span_end, count(*) AS n_windows
      |FROM isl2 GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin

  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetition(Tables.table(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id", "n")

  val textRepetitionSql: String =
    """WITH tl AS (SELECT doc_id, string_split(text, ' ') AS toks,
      |              length(text) AS n_chars FROM documents),
      |g AS (
      |  SELECT doc_id, n_chars, 2 AS n, array_to_string(toks[i:i+1], ' ') AS gram
      |  FROM tl, unnest(range(1, len(toks))) AS u(i)
      |  UNION ALL
      |  SELECT doc_id, n_chars, 3, array_to_string(toks[i:i+2], ' ')
      |  FROM tl, unnest(range(1, len(toks) - 1)) AS u(i)
      |  UNION ALL
      |  SELECT doc_id, n_chars, 4, array_to_string(toks[i:i+3], ' ')
      |  FROM tl, unnest(range(1, len(toks) - 2)) AS u(i)),
      |c AS (SELECT doc_id, n_chars, n, gram, count(*) AS cnt
      |      FROM g GROUP BY doc_id, n_chars, n, gram),
      |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id, n
      |        ORDER BY cnt DESC, cnt * length(gram) DESC, gram) AS rn FROM c)
      |SELECT doc_id, n, gram AS top_gram, cnt AS top_cnt,
      |  floor(CAST(cnt * length(gram) AS DOUBLE) / n_chars * 10000.0) / 10000.0 AS top_frac
      |FROM r WHERE rn = 1 ORDER BY doc_id, n""".stripMargin

  /** PII scrub over deterministically injected PII (the synthetic corpus
    * carries none): emails, +CC phone shapes, IPv4 — counts + redaction. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val injected = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), concat(
        substring(col("text"), 1, 40),
        lit(" contact a"), col("doc_id").cast("string"),
        lit("@mail.example.org ip 10."), (col("doc_id") % 200).cast("string"),
        lit(".0."), (col("doc_id") % 250).cast("string"),
        lit(" tel +1 202-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("t"))
    TextAnalysis.piiScrub(injected, "doc_id", "t").orderBy("doc_id")
  }

  val piiScrubSql: String = {
    // DuckDB single-quoted literals keep backslashes verbatim — embed the
    // exact runtime pattern strings the Spark plan uses
    val email = TextAnalysis.PiiEmail
    val ip = TextAnalysis.PiiIp
    val phone = TextAnalysis.PiiPhone
    s"""WITH inj AS (
       |  SELECT doc_id,
       |    substring(text, 1, 40) || ' contact a' || CAST(doc_id AS VARCHAR) ||
       |    '@mail.example.org ip 10.' || CAST(doc_id % 200 AS VARCHAR) ||
       |    '.0.' || CAST(doc_id % 250 AS VARCHAR) ||
       |    ' tel +1 202-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$email')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(t, '$phone')) AS INT) AS n_phones,
       |  CAST(len(regexp_extract_all(t, '$ip')) AS INT) AS n_ips,
       |  regexp_replace(regexp_replace(regexp_replace(t,
       |    '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g'), '$ip', '<IP>', 'g') AS scrubbed
       |FROM inj ORDER BY doc_id""".stripMargin
  }

  // ---- multimodal plumbing: opaque binary + typed metadata ----

  def mmMeta(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .withColumn("payload", encode(col("text"), "UTF-8")) // opaque bytes
      .select(col("doc_id"),
        length(col("payload")).as("n_bytes"),
        ascii(substring(col("text"), 1, 1)).as("first_byte"),
        length(regexp_replace(col("text"), "[^a-m]", "")).as("am_bytes"))
      .orderBy("doc_id")

  val mmMetaSql: String =
    """SELECT doc_id,
      |  CAST(length(text) AS INT) AS n_bytes,
      |  CAST(unicode(substring(text, 1, 1)) AS INT) AS first_byte,
      |  CAST(length(regexp_replace(text, '[^a-m]', '', 'g')) AS INT) AS am_bytes
      |FROM documents ORDER BY doc_id""".stripMargin

  /** REAL PNG round-trip: synthesize a deterministic 8x8 grayscale PNG per
    * doc executor-side, decode it with the JDK's ImageIO in the batched
    * kernel, report decoded shape + mean gray. PNG is lossless and 64 is a
    * power of two, so the oracle computes the SAME doubles analytically. */
  def mmDecodeImage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.mm.Multimodal
    val bin = Tables.table(spark, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, Multimodal.synthPng(id))))
      .toDF("doc_id", "png")
    Multimodal.withImageDecode(bin, "png")
      .select(col("doc_id"), col("image.width").as("width"),
        col("image.height").as("height"), col("image.avg_gray").as("avg_gray"))
      .orderBy("doc_id")
  }

  val mmDecodeImageSql: String =
    """SELECT doc_id, 8 AS width, 8 AS height,
      |  CAST(sum((doc_id * 31 + u.i) % 256) AS DOUBLE) / 64 AS avg_gray
      |FROM documents, unnest(range(0, 64)) AS u(i)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** REAL WAV/RIFF round-trip: deterministic mono 16-bit PCM payload per
    * doc, parsed back by walking the RIFF chunks; abs-sum of samples is an
    * exact long the oracle replays from the sample formula. */
  def mmDecodeWav(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.mm.Multimodal
    val bin = Tables.table(spark, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, Multimodal.synthWav(id))))
      .toDF("doc_id", "wav")
    Multimodal.withWavDecode(bin, "wav")
      .select(col("doc_id"), col("audio.sample_rate").as("sample_rate"),
        col("audio.channels").as("channels"),
        col("audio.n_samples").as("n_samples"),
        col("audio.abs_sum").as("abs_sum"))
      .orderBy("doc_id")
  }

  /** benchmark decontamination: eval set = every 19th doc (deterministic,
    * no external data), 3-gram overlap, contaminated at >= 5 distinct
    * matches — on this vocab that splits the corpus non-degenerately. */
  def decontaminateQ(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.table(spark, dir, "documents")
    Dedup.decontaminate(
      d.where(col("doc_id") % 19 =!= 0), d.where(col("doc_id") % 19 === 0),
      "doc_id", "text", n = 3, minMatches = 5)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  val decontaminateSql: String =
    s"""WITH tl AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |shs AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
       |        FROM tl, unnest(range(1, len(toks) - 1)) AS u(i)),
       |sh AS (SELECT DISTINCT doc_id, ${sqlPolyHash("shingle", 31)} AS h FROM shs),
       |ev AS (SELECT DISTINCT h FROM sh WHERE doc_id % 19 = 0),
       |m AS (SELECT doc_id, count(*) AS matched_ngrams
       |      FROM sh JOIN ev USING (h) WHERE doc_id % 19 <> 0 GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(m.matched_ngrams, 0) AS BIGINT) AS matched_ngrams,
       |  coalesce(m.matched_ngrams, 0) >= 5 AS contaminated
       |FROM documents d LEFT JOIN m USING (doc_id)
       |WHERE d.doc_id % 19 <> 0 ORDER BY d.doc_id""".stripMargin

  /** passage-level chunk dedup: 20-token chunks, first occurrence wins,
    * text reconstructed from kept chunks */
  def dedupChunksQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupChunks(Tables.table(spark, dir, "documents"), "doc_id", "text",
        k = 20)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  val dedupChunksSql: String =
    s"""WITH tl AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |ch AS (SELECT doc_id, i AS chunk_idx,
       |         array_to_string(toks[(i*20+1):(i*20+20)], ' ') AS chunk
       |       FROM tl, unnest(range(0, CAST(ceil(len(toks)/20.0) AS BIGINT))) AS u(i)),
       |hh AS (SELECT doc_id, chunk_idx, chunk, ${sqlPolyHash("chunk", 31)} AS h FROM ch),
       |kk AS (SELECT doc_id, chunk_idx, chunk,
       |         CASE WHEN row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) = 1
       |              THEN 1 ELSE 0 END AS kept FROM hh)
       |SELECT doc_id, count(*) AS n_chunks, CAST(sum(kept) AS BIGINT) AS n_kept,
       |  coalesce(string_agg(CASE WHEN kept = 1 THEN chunk END, ' ' ORDER BY chunk_idx), '')
       |    AS text_dedup
       |FROM kk GROUP BY 1 ORDER BY 1""".stripMargin

  /** bloom-gated decontamination: eval set = every 17th doc, 2-gram
    * overlap, contaminated at >= 3 matches. The oracle replays the EXACT
    * semantics (the bloom is invisible in the output by construction —
    * false positives are removed by the confirm join). */
  def decontaminateBloomQ(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.table(spark, dir, "documents")
    Dedup.decontaminateBloom(
      d.where(col("doc_id") % 17 =!= 0), d.where(col("doc_id") % 17 === 0),
      "doc_id", "text", n = 2, minMatches = 3)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  val decontaminateBloomSql: String =
    s"""WITH tl AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |shs AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS shingle
       |        FROM tl, unnest(range(1, len(toks))) AS u(i)),
       |sh AS (SELECT DISTINCT doc_id, ${sqlPolyHash("shingle", 31)} AS h FROM shs),
       |ev AS (SELECT DISTINCT h FROM sh WHERE doc_id % 17 = 0),
       |m AS (SELECT doc_id, count(*) AS matched_ngrams
       |      FROM sh JOIN ev USING (h) WHERE doc_id % 17 <> 0 GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(m.matched_ngrams, 0) AS BIGINT) AS matched_ngrams,
       |  coalesce(m.matched_ngrams, 0) >= 3 AS contaminated
       |FROM documents d LEFT JOIN m USING (doc_id)
       |WHERE d.doc_id % 17 <> 0 ORDER BY d.doc_id""".stripMargin

  /** deterministic training-mix sampling: per-source keep rate = 5 x the
    * numeric source suffix (0%..95%), keep decision a pure LCG of doc_id
    * (zero shuffle, re-derivable — see Mixing.mixSample). */
  def mixSampleQ(spark: SparkSession, dir: String): DataFrame =
    Mixing.mixSample(Tables.table(spark, dir, "documents"), "doc_id",
        expr("CAST(substring(source, 4) AS INT) * 5"))
      .select("doc_id", "source", "rate")
      .orderBy("doc_id")

  val mixSampleSql: String =
    s"""SELECT doc_id, source,
       |  CAST(CAST(substr(source, 4) AS INT) * 5 AS BIGINT) AS rate
       |FROM documents
       |WHERE ${Mixing.lcgKeySql("doc_id")} % 100
       |      < CAST(substr(source, 4) AS INT) * 5
       |ORDER BY doc_id""".stripMargin

  /** exact per-language stratified sample: 40 docs per lang, LCG-ranked
    * (salted two-phase window — see Mixing.stratifiedSample) */
  def stratifiedSampleQ(spark: SparkSession, dir: String): DataFrame =
    Mixing.stratifiedSample(Tables.table(spark, dir, "documents"),
        "doc_id", "lang", quota = 40)
      .select(col("doc_id"), col("lang"), col("strat_rank"))
      .orderBy("lang", "strat_rank")

  val stratifiedSampleSql: String =
    s"""SELECT doc_id, lang, CAST(strat_rank AS INT) AS strat_rank FROM (
       |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
       |    ORDER BY ${Mixing.lcgKeySql("doc_id")}, doc_id) AS strat_rank
       |  FROM documents)
       |WHERE strat_rank <= 40 ORDER BY lang, strat_rank""".stripMargin

  /** exact per-language length quantiles (quality-threshold selection):
    * dyadic quantile points over integer char counts make the linear
    * interpolation EXACT in binary floating point on any engine — the
    * trick that lets an interpolated statistic hash-match across Spark
    * and DuckDB. (At 100 TB the same query runs with approx_percentile;
    * the exact form is the oracle-checkable variant.) */
  def quantilesQ(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        percentile(col("n_chars"), lit(0.25)).as("q25"),
        percentile(col("n_chars"), lit(0.5)).as("q50"),
        percentile(col("n_chars"), lit(0.75)).as("q75"),
        percentile(col("n_chars"), lit(0.875)).as("q875"))
      .orderBy("lang")

  val quantilesSql: String =
    """SELECT lang, count(*) AS n,
      |  quantile_cont(n_chars, 0.25) AS q25,
      |  quantile_cont(n_chars, 0.5) AS q50,
      |  quantile_cont(n_chars, 0.75) AS q75,
      |  quantile_cont(n_chars, 0.875) AS q875
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** ARBITRARY-quantile estimation via the deterministic mergeable
    * bottom-k hash-sample sketch (Sketches.quantileSketch — the
    * order-independent alternative to KLL whose result replays exactly in
    * any engine); permille points 103/500/907 are deliberately NON-dyadic
    * (the exact `quantiles` gate covers dyadic points). Rank-error bound
    * and mergeability are QuantileSketchSpec territory. */
  def quantilesSketchQ(spark: SparkSession, dir: String): DataFrame =
    graft.ml.Sketches.quantileSketch(Tables.table(spark, dir, "documents"),
        Seq("lang"), col("doc_id"), col("n_chars"), k = 200,
        qPermille = Seq(103, 500, 907))
      .orderBy("lang", "q")

  val quantilesSketchSql: String = graft.ml.Sketches.quantileSketchSql(
    "documents", "lang", "lang", "doc_id", "n_chars",
    k = 200, qPermille = Seq(103, 500, 907))

  /** concat-and-chunk sequence packing into 2048-token context windows via
    * the distributed prefix-sum (see Mixing.seqPack — no one-partition
    * global window); the oracle replays the equivalent global cumsum. */
  def seqPackQ(spark: SparkSession, dir: String): DataFrame =
    Mixing.seqPack(Tables.table(spark, dir, "documents"), "doc_id",
        size(split(col("text"), " ")), budget = 2048L)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  val seqPackSql: String =
    """WITH tl AS (SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks FROM documents),
      |c AS (SELECT doc_id, n_toks,
      |  coalesce(sum(n_toks) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      |  FROM tl)
      |SELECT doc_id, n_toks, CAST(cb // 2048 AS BIGINT) AS bin,
      |  CAST(cb % 2048 AS BIGINT) AS bin_offset
      |FROM c ORDER BY doc_id""".stripMargin

  val mmDecodeWavSql: String =
    """SELECT doc_id, 8000 AS sample_rate, 1 AS channels, 256 AS n_samples,
      |  CAST(sum(abs((doc_id * 7 + u.i * 13) % 65536 - 32768)) AS BIGINT) AS abs_sum
      |FROM documents, unnest(range(0, 256)) AS u(i)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> dedupExact,
    "dedup_exact_norm" -> dedupExactNorm,
    "dedup_jaccard" -> dedupJaccard,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_simhash" -> dedupSimhash,
    "dedup_simhash_pairs" -> dedupSimhashPairs,
    "ann_cosine_topk" -> annCosineTopK,
    "ann_lsh_buckets" -> annLshBuckets,
    "dedup_embedding" -> dedupEmbedding,
    "ann_lsh_topk" -> annLshTopK,
    "ann_multiprobe_topk" -> annMultiprobeTopK,
    "ann_ivf_topk" -> annIvfTopK,
    "ann_ivf_append" -> annIvfAppend,
    "ann_ivfpq_append" -> annIvfPqAppend,
    "ann_ivf_delete" -> annIvfDelete,
    "ann_ivfpq_delete" -> annIvfPqDelete,
    "ann_ivf_rebalance" -> annIvfRebalance,
    "ann_ivfpq_rebalance" -> annIvfPqRebalance,
    "ann_pq_topk" -> annPqTopK,
    "ann_ivfpq_topk" -> annIvfPqTopK,
    "ann_ivfpq_batch" -> annIvfPqBatch,
    "ann_ivf_batch" -> annIvfBatch,
    "ann_batch_topk" -> annBatchTopK,
    "vector_distances" -> vectorDistances,
    "kmeans_clusters" -> kmeansClusters,
    "lang_id" -> langIdQ,
    "text_quality" -> qualityQ,
    "token_count" -> tokenCountQ,
    "doc_fingerprint" -> fingerprintQ,
    "dedup_substring" -> dedupSubstring,
    "text_repetition" -> textRepetition,
    "pii_scrub" -> piiScrub,
    "mm_meta" -> mmMeta,
    "mm_decode_image" -> mmDecodeImage,
    "mm_decode_wav" -> mmDecodeWav,
    "decontaminate" -> decontaminateQ,
    "decontaminate_bloom" -> decontaminateBloomQ,
    "dedup_chunks" -> dedupChunksQ,
    "stratified_sample" -> stratifiedSampleQ,
    "quantiles" -> quantilesQ,
    "quantiles_sketch" -> quantilesSketchQ,
    "mix_sample" -> mixSampleQ,
    "seq_pack" -> seqPackQ,
    "dedup_components" -> dedupComponentsQ,
    "dedup_drop_list" -> dedupDropListQ,
    "dedup_keep_best" -> dedupKeepBestQ)

  val oracles: Map[String, String] = Map(
    "dedup_exact" -> dedupExactSql,
    "dedup_exact_norm" -> dedupExactNormSql,
    "dedup_jaccard" -> dedupJaccardSql,
    "dedup_minhash_lsh" -> dedupMinhashLshSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_simhash_pairs" -> dedupSimhashPairsSql,
    "ann_cosine_topk" -> annCosineTopKSql,
    "ann_lsh_buckets" -> annLshBucketsSql,
    "dedup_embedding" -> dedupEmbeddingSql,
    "ann_lsh_topk" -> annLshTopKSql,
    "ann_multiprobe_topk" -> annMultiprobeTopKSql,
    "ann_ivf_topk" -> annIvfTopKSql,
    "ann_ivf_append" -> annIvfAppendSql,
    "ann_ivfpq_append" -> annIvfPqAppendSql,
    "ann_ivf_delete" -> annIvfDeleteSql,
    "ann_ivfpq_delete" -> annIvfPqDeleteSql,
    "ann_ivf_rebalance" -> annIvfRebalanceSql,
    "ann_ivfpq_rebalance" -> annIvfPqRebalanceSql,
    "ann_pq_topk" -> annPqTopKSql,
    "ann_ivfpq_topk" -> annIvfPqTopKSql,
    "ann_ivfpq_batch" -> annIvfPqBatchSql,
    "ann_ivf_batch" -> annIvfBatchSql,
    "ann_batch_topk" -> annBatchTopKSql,
    "vector_distances" -> vectorDistancesSql,
    "kmeans_clusters" -> kmeansClustersSql,
    "lang_id" -> langIdSql,
    "text_quality" -> qualitySql,
    "token_count" -> tokenCountSql,
    "doc_fingerprint" -> fingerprintSql,
    "dedup_substring" -> dedupSubstringSql,
    "text_repetition" -> textRepetitionSql,
    "pii_scrub" -> piiScrubSql,
    "mm_meta" -> mmMetaSql,
    "mm_decode_image" -> mmDecodeImageSql,
    "mm_decode_wav" -> mmDecodeWavSql,
    "decontaminate" -> decontaminateSql,
    "decontaminate_bloom" -> decontaminateBloomSql,
    "dedup_chunks" -> dedupChunksSql,
    "stratified_sample" -> stratifiedSampleSql,
    "quantiles" -> quantilesSql,
    "quantiles_sketch" -> quantilesSketchSql,
    "mix_sample" -> mixSampleSql,
    "seq_pack" -> seqPackSql,
    "dedup_components" -> dedupComponentsSql,
    "dedup_drop_list" -> dedupDropListSql,
    "dedup_keep_best" -> dedupKeepBestSql)
}
