package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analyzer.{Analyzers, Token}

/** Token column — a persisted PRE-TOKENIZED corpus cache.
  *
  * Re-expression of the reference's token column
  * (/root/reference/lib/token_column.cpp: tokenized values cached per
  * column so repeated index builds skip analysis). At scale, tokenization
  * is roughly half the build cost; materializing the analyzed stream once
  * lets you rebuild the index under different physical parameters
  * (blockSize, bucketBits, partitioning) — or resume a wiped build —
  * without re-reading and re-analyzing 100 TB of text.
  *
  * Layout: parquet rows (doc_id, sid, terms ARRAY<STRING>,
  * poss ARRAY<INT>) — one row per non-empty (doc, section) — plus
  * tokmeta.json recording the tokenizer spec and section names, so the
  * built index's manifest (and therefore query-side analysis) matches the
  * analyzer that produced the tokens.
  */
object TokenColumn {

  private final val MetaFile = "tokmeta.json"

  /** analyze `docs` once and persist the token stream under `path` */
  def write(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCols: Seq[String],
      path: String,
      tokenizerName: String): Unit = {
    import spark.implicits._
    require(textCols.nonEmpty, "at least one text column")
    val fs = SegmentCatalog.fileSystem(spark, path)
    val raw = docs
      .select(col(idCol).cast("long"),
        array(textCols.map(c => col(c).cast("string")): _*))
      .as[(Long, Array[String])]
    raw.mapPartitions { it =>
      val tok = Analyzers.byName(tokenizerName)
      it.flatMap { case (docId, texts) =>
        texts.iterator.zipWithIndex.flatMap { case (t, s) =>
          val toks = tok.tokenize(if (t == null) "" else t)
          if (toks.isEmpty) None
          else Some((docId, s + 1, toks.map(_.term).toSeq, toks.map(_.pos).toSeq))
        }
      }
    }.toDF("doc_id", "sid", "terms", "poss")
      .write.mode("overwrite").parquet(s"$path/tokens")
    // proper JSON serialization — column names may contain quotes/backslashes
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val meta = org.json4s.jackson.Serialization.write(
      Map("tokenizer" -> tokenizerName, "sections" -> textCols))
    val os = fs.create(new Path(path, MetaFile), true)
    try os.write(meta.getBytes("UTF-8")) finally os.close()
  }

  /** (tokenizer, sections) recorded at write time */
  def readMeta(spark: SparkSession, path: String): (String, Seq[String]) = {
    val fs = SegmentCatalog.fileSystem(spark, path)
    val in = fs.open(new Path(path, MetaFile))
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val j = org.json4s.jackson.JsonMethods.parse(json)
    ((j \ "tokenizer").extract[String], (j \ "sections").extract[Seq[String]])
  }

  /** Build a full index FROM the token column — no re-tokenization. Same
    * artifact layout and query semantics as IndexBuilder.buildSectioned
    * over the original text. */
  def buildIndex(
      spark: SparkSession,
      tokenPath: String,
      outPath: String,
      cfg: IndexConfig = IndexConfig()): GraftIndex = {
    import spark.implicits._
    val (tokenizerName, sections) = readMeta(spark, tokenPath)
    val sectioned = sections.length > 1
    val buildCfg = cfg.copy(tokenizer = tokenizerName)

    val fs = SegmentCatalog.fileSystem(spark, outPath)
    if (SegmentCatalog.isCommitted(fs, outPath)) return GraftIndex(spark, outPath)

    val shufflePartitions = cfg.shufflePartitions(spark)

    val tokens = spark.read.parquet(s"$tokenPath/tokens")
    // salt sizing needs only the corpus magnitude: the (doc,section) row
    // count is an upper bound on nDocs (a distinct count would re-scan the
    // cache). It is not free — under AQE 2 Spark jobs, plus a schema job
    // for the parquet read; IndexConfig.nDocsHint skips it
    val bucketBits = buildCfg.resolveBucketBits(tokens.count(), shufflePartitions)

    // group (doc, sid) rows back into per-doc section arrays; range
    // partitioning + sort restores the ascending-unique-per-partition
    // precondition of the run builder
    val analyzed = tokens
      .repartitionByRange(shufflePartitions, $"doc_id")
      .sortWithinPartitions($"doc_id", $"sid")
      .select($"doc_id", $"sid", $"terms", $"poss")
      .as[(Long, Int, Seq[String], Seq[Int])]

    val nSections = math.max(1, sections.length)
    val runs = analyzed.mapPartitions { it =>
      val byDoc = new Iterator[(Long, Array[Array[Token]])] {
        private val in = it.buffered
        def hasNext: Boolean = in.hasNext
        def next(): (Long, Array[Array[Token]]) = {
          val docId = in.head._1
          val secs = new Array[Array[Token]](nSections)
          while (in.hasNext && in.head._1 == docId) {
            val (_, sid, terms, poss) = in.next()
            // fail fast on a corrupt/mismatched cache row — a clamp would
            // silently assign it to the last section and overwrite
            // whatever was already there
            require(sid >= 1 && sid <= nSections,
              s"token-cache row (doc_id=$docId, sid=$sid) out of range for " +
                s"$nSections section(s) — cache does not match the index schema")
            val toks = new Array[Token](terms.length)
            var i = 0
            while (i < toks.length) { toks(i) = Token(terms(i), poss(i), 0); i += 1 }
            secs(sid - 1) = toks
          }
          var s = 0
          while (s < nSections) {
            if (secs(s) == null) secs(s) = Array.empty[Token]
            s += 1
          }
          (docId, secs)
        }
      }
      IndexBuilder.runsFromAnalyzed(byDoc, buildCfg, bucketBits, sectioned, None, None)
    }
    // doc stats straight from the token table — dl = Σ section token counts
    val lengths = tokens.groupBy($"doc_id")
      .agg(sum(size($"terms")).cast("int").as("dl"))
      .where($"dl" > 0)
    SegmentWriter.write(spark, outPath, runs, lengths, buildCfg)
    SegmentWriter.commitBase(spark, outPath, buildCfg, bucketBits, sections,
      Map("builtFromTokenColumn" -> tokenPath))
  }
}
