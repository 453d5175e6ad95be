package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.analyzer.{Analyzers, Tokenizer}
import graft.codec.PostingCodec

import scala.collection.mutable

/** Offline inverted-index builder.
  *
  * Spark-first re-expression of groonga's offline builder `grn_ii_build`
  * (/root/reference/lib/ii.cpp:18711-18726): the reference tokenizes into
  * per-term buffers, spills sorted blocks at a value threshold, then
  * k-way-merges them in lexicon order (append_source/commit,
  * lib/ii.cpp:16836-17200, 18608-18674). The Spark translation keeps that
  * exact dataflow:
  *
  *   stage 1  docs --map: tokenize + buffer per (term, bucket) + spill
  *            doc-ordered encoded RUNS at a posting threshold--> shuffle by
  *            (term, bucket) --sort by (term, bucket, min_doc)--> merge runs
  *            into fixed-size posting blocks --> parquet. Run and block
  *            headers and every re-encoded block come from the one
  *            builder, BlockBuilder (model.scala), which the liveness
  *            filter and the query kernel's block merge also call
  *            (the shuffle moves ~|vocab| x tasks encoded runs, NOT one row
  *             per (doc, term) — measured 40x fewer rows, the difference
  *             between a 90M-row sort and an 800k-row sort per 1M docs)
  *   stage 2  term stats: aggregation over block rows (postings/128 rows),
  *            then terms_rev sorted from them with no exchange
  *   stage 3  doc stats: map-only tokenize-count pass. It reads only the
  *            input, so its job runs beside stages 1 and 2, not after them
  *   stage 4  one stats query over postings and docs, then the manifest
  *            commit (atomic rename)
  *
  * This object owns the text front (the map side of stage 1, the
  * tokenize-count pass of stage 3) and the run merge. The shuffle, the
  * stage writes and the stats behind the commit are SegmentWriter's, the
  * one writer that token-column builds, appends and compactions share.
  *
  * Skew: `bucket = docId >> bucketBits` (auto-sized from corpus size) salts
  * head terms — a bigram lexicon over web text is extremely Zipf-skewed, so
  * without the salt one reducer would own all of "th". docId order is
  * preserved bucket-major, so query-side streams stay globally sorted.
  * A bucket also bounds merge memory: one (term, bucket) group holds at most
  * 2^bucketBits postings.
  *
  * Resumability: each stage commits to its own directory with Spark's
  * _SUCCESS marker; a re-run skips completed stages (checkpoint granularity =
  * stage; within a stage, lineage + task retry give partition-level
  * recovery). Metrics are emitted per build via accumulators into the
  * manifest.
  */
object IndexBuilder {

  /** index artifact format: 2 adds per-block `max_gtf` (group-summed tf
    * maximum), the bound input that lets Block-Max WAND prune SECTIONED
    * indexes. Committed v1 artifacts are rebuilt on first open via
    * buildSectioned's version check; v1 blocks read through
    * GraftIndex.postings get max_gtf synthesized (= max_tf sid-less, -1 =
    * "unknown, no pruning" sectioned). */
  final val CurrentFormatVersion = 2

  /** mutable per-term posting accumulator on the map side — primitive
    * buffers only (boxing on this path measured as ~2500 CPU-s per 1M docs),
    * positions pre-encoded into one varbyte stream per run */
  private final class RunBuf {
    val docs = new graft.codec.LongVec(4)
    val tfs = new graft.codec.IntVec(4)
    val dls = new graft.codec.IntVec(4)
    val sids = new graft.codec.IntVec(4) // used only for sectioned indexes
    val posW = new graft.codec.ByteWriter(16)
  }

  /** Tokenize a partition of docs into doc-ordered encoded posting runs.
    * Buffers are keyed by term and flushed at every bucket boundary (so a
    * run never spans buckets) and at the `spillPostings` threshold.
    * Each doc is an array of section texts (sid = position + 1); a
    * single-element array builds the classic sid-less layout. */
  def tokenizeToRuns(
      docs: Dataset[(Long, Array[String])],
      cfg: IndexConfig,
      bucketBits: Int,
      sectioned: Boolean,
      tokensAcc: Option[LongAccumulator],
      runsAcc: Option[LongAccumulator]): Dataset[PostingRunRow] = {
    import docs.sparkSession.implicits._
    val tokenizerName = cfg.tokenizer
    docs.mapPartitions { it =>
      val tokenizer: Tokenizer = Analyzers.byName(tokenizerName)
      runsFromAnalyzed(it.map { case (docId, texts) =>
        (docId, texts.map(t => tokenizer.tokenize(if (t == null) "" else t)))
      }, cfg, bucketBits, sectioned, tokensAcc, runsAcc)
    }
  }

  /** Run builder over PRE-ANALYZED docs — the shared back half of
    * tokenizeToRuns, also fed directly by TokenColumn.buildIndex (the
    * reference's token-column cache, lib/token_column.cpp: tokenize once,
    * build many). One element per doc: per-section token arrays in sid
    * order. */
  private[index] def runsFromAnalyzed(
      it: Iterator[(Long, Array[Array[graft.analyzer.Token]])],
      cfg: IndexConfig,
      bucketBits: Int,
      sectioned: Boolean,
      tokensAcc: Option[LongAccumulator],
      runsAcc: Option[LongAccumulator]): Iterator[PostingRunRow] = {
    val withPositions = cfg.withPositions
    val spillPostings = cfg.spillPostings
    val termOrder = new java.util.Comparator[graft.analyzer.Token] {
      def compare(a: graft.analyzer.Token, b: graft.analyzer.Token): Int =
        a.term.compareTo(b.term)
    }

      new Iterator[PostingRunRow] {
        private val bufs = new java.util.HashMap[String, RunBuf]()
        private var curBucket = -1
        private var nBuffered = 0
        private val out = new mutable.Queue[PostingRunRow]()

        private def spill(bucket: Int): Unit = {
          if (bufs.isEmpty) return
          val eit = bufs.entrySet().iterator()
          while (eit.hasNext) {
            val e = eit.next()
            val b = e.getValue
            val docs = b.docs.toArray
            val tfs = b.tfs.toArray
            val dls = b.dls.toArray
            val payload = PostingCodec.encodeWithPosBlob(docs, tfs, dls,
              if (withPositions) b.posW.result() else null,
              if (sectioned) b.sids.toArray else null)
            out.enqueue(PostingRunRow(e.getKey, bucket, BlockBuilder.header(docs, tfs, dls), payload))
          }
          runsAcc.foreach(_.add(bufs.size.toLong))
          bufs.clear()
          nBuffered = 0
        }

        private var lastDocId = Long.MinValue

        private def consumeSection(docId: Long, sid: Int, toks: Array[graft.analyzer.Token],
            dl: Int): Unit = {
          // stable sort by term groups a section's occurrences; positions
          // stay ascending within each group (no per-term map, no boxing)
          java.util.Arrays.sort(toks.asInstanceOf[Array[AnyRef]],
            termOrder.asInstanceOf[java.util.Comparator[AnyRef]])
          var i = 0
          while (i < toks.length) {
            val term = toks(i).term
            var j = i + 1
            while (j < toks.length && toks(j).term == term) j += 1
            val tf = j - i
            var b = bufs.get(term)
            if (b == null) { b = new RunBuf; bufs.put(term, b) }
            b.docs += docId; b.tfs += tf; b.dls += dl
            if (sectioned) b.sids += sid
            if (withPositions) {
              var prev = 0
              var k = i
              while (k < j) {
                b.posW.writeVarInt(toks(k).pos - prev); prev = toks(k).pos; k += 1
              }
            }
            nBuffered += 1
            i = j
          }
        }

        private def consumeDoc(docId: Long, toksBySec: Array[Array[graft.analyzer.Token]]): Unit = {
          // build() precondition: doc ids unique and ascending within each
          // input partition (PostingCodec runs are delta-coded). Fail fast
          // with the offending ids instead of erroring deep in the codec.
          if (docId <= lastDocId)
            throw new IllegalArgumentException(
              s"IndexBuilder.build requires unique ascending doc ids per input " +
                s"partition; saw $docId after $lastDocId — sort the input " +
                s"(repartitionByRange(col(idCol)).sortWithinPartitions(idCol)) " +
                s"or deduplicate ids first")
          lastDocId = docId
          var dl = 0
          var s = 0
          while (s < toksBySec.length) {
            dl += toksBySec(s).length
            s += 1
          }
          tokensAcc.foreach(_.add(dl.toLong))
          if (dl == 0) return
          val bucket = (docId >> bucketBits).toInt
          if (bucket != curBucket) { spill(curBucket); curBucket = bucket }
          // sections consumed in ascending sid keeps every RunBuf ordered
          // by (doc, sid); dl is the whole-doc token count (BM25 length)
          s = 0
          while (s < toksBySec.length) {
            if (toksBySec(s).nonEmpty) consumeSection(docId, s + 1, toksBySec(s), dl)
            s += 1
          }
          if (nBuffered >= spillPostings) { spill(curBucket); curBucket = -1 }
        }

        private def fill(): Unit = {
          while (out.isEmpty && it.hasNext) {
            val (docId, toks) = it.next()
            consumeDoc(docId, toks)
            if (!it.hasNext) spill(curBucket)
          }
        }

        def hasNext: Boolean = { fill(); out.nonEmpty }
        def next(): PostingRunRow = { fill(); out.dequeue() }
      }
  }

  /** single-text-column convenience (the classic layout) */
  def tokenizeToRuns(
      docs: Dataset[(Long, String)],
      cfg: IndexConfig,
      bucketBits: Int,
      tokensAcc: Option[LongAccumulator] = None,
      runsAcc: Option[LongAccumulator] = None)(
      implicit d: DummyImplicit): Dataset[PostingRunRow] = {
    import docs.sparkSession.implicits._
    tokenizeToRuns(docs.map { case (id, t) => (id, Array(t)) }, cfg, bucketBits,
      sectioned = false, tokensAcc, runsAcc)
  }

  /** Reduce side: consume runs sorted by (term, bucket, min_doc); per
    * (term, bucket) group merge all runs (bounded by the bucket's 2^bits
    * docs) into global (doc, sid) order and re-chunk them into blocks of
    * `cfg.blockSize` postings ([[BlockBuilder.blocks]]). */
  def mergeRuns(cfg: IndexConfig)(it: Iterator[PostingRunRow]): Iterator[PostingBlockRow] =
    new Iterator[PostingBlockRow] {
      private val in = it.buffered
      private val out = new mutable.Queue[PostingBlockRow]()

      private def fill(): Unit = {
        while (out.isEmpty && in.hasNext) {
          val head = in.head
          val term = head.term
          val bucket = head.bucket
          val rows = new mutable.ArrayBuffer[PostingRunRow]()
          while (in.hasNext && in.head.term == term && in.head.bucket == bucket) {
            rows += in.next()
          }
          // fast path: a lone small run IS a valid block (same payload
          // format) — the common case, since a bucket rarely spans map
          // tasks; head terms (cnt > blockSize) still get re-chunked for
          // block-max granularity. A legacy run without a group bound
          // (max_gtf < 0, only possible when compact feeds v1 blocks back
          // through here) takes the decode path so the bound is recomputed.
          if (rows.length == 1 && rows.head.cnt <= cfg.blockSize && rows.head.max_gtf >= 0) {
            val r = rows.head
            out.enqueue(PostingBlockRow(r.term, r.bucket, 0, r.min_doc, r.max_doc,
              r.cnt, r.max_tf, r.max_gtf, r.min_dl, r.tf_sum, r.payload.length, r.payload))
          } else {
            BlockBuilder.blocks(rows.map(_.payload), _ => true, cfg.blockSize)
              .iterator.zipWithIndex.foreach { case ((h, payload), blk) =>
                out.enqueue(PostingBlockRow(term, bucket, blk, h, payload, 0))
              }
          }
        }
      }

      def hasNext: Boolean = { fill(); out.nonEmpty }
      def next(): PostingBlockRow = { fill(); out.dequeue() }
    }

  /** Build the index from `docs` (must expose a unique long id + text) and
    * commit it under `outPath`. Returns the opened index. */
  def build(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      outPath: String,
      cfg: IndexConfig = IndexConfig()): GraftIndex =
    buildSectioned(spark, docs, idCol, Seq(textCol), outPath, cfg)

  /** Multi-column (sectioned) index build: one posting per (doc, section)
    * with sid = column position + 1 — `select --match_columns
    * "title * 10 || body"` needs per-section tf at query time
    * (WITH_SECTION, /root/reference/lib/ii.cpp:16859 sid packing;
    * scoring lib/ii.cpp:13694-13696). A single column builds the classic
    * sid-less layout. Note: for sectioned indexes, `terms.df` counts
    * (doc, section) postings, not distinct docs. */
  def buildSectioned(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCols: Seq[String],
      outPath: String,
      cfg: IndexConfig = IndexConfig()): GraftIndex = {
    require(textCols.nonEmpty, "at least one text column")
    val fs = SegmentCatalog.fileSystem(spark, outPath)
    if (SegmentCatalog.isCommitted(fs, outPath)) {
      // resume short-circuit. A committed v1 SECTIONED artifact is rebuilt
      // so sectioned WAND stays enabled (v1 blocks lack max_gtf) — but ONLY
      // when it is an unmutated base-only build: appended segments and
      // tombstones are state that `docs` does not contain, so deleting a
      // mutated artifact here would silently discard data. Mutated or
      // sid-less v1 artifacts stay as-is — the read path synthesizes
      // max_gtf (= max_tf sid-less, sound; -1 sectioned, WAND off as
      // before) and compact()/compactPartial-of-everything migrate them.
      val m = SegmentCatalog.readMeta(fs, outPath)
      // dataSegments reads only an all-table-names list (or ".") as the
      // root base alone, so a mutated index whose appended segment is
      // named like a table never qualifies for this DELETE
      val baseOnly = m.deleteSegments.isEmpty && m.dataSegments == Seq(".")
      if (m.formatVersion >= CurrentFormatVersion || m.sections.isEmpty || !baseOnly)
        return GraftIndex(spark, outPath)
      // DESTRUCTIVE format migration: the committed v1 artifact is deleted
      // and rebuilt from the CALLER'S CURRENT `docs`. Announce it loudly —
      // if the caller's input changed since the original build, this is a
      // silent content replacement masquerading as a migration.
      System.err.println(
        s"[graft-build] MIGRATING $outPath: deleting committed v1 sectioned " +
          s"base-only artifact (formatVersion=${m.formatVersion} < " +
          s"$CurrentFormatVersion) and rebuilding from the caller's current " +
          "input. If the input is not byte-identical to the original build, " +
          "the previous index contents are being replaced, not migrated.")
      fs.delete(new org.apache.hadoop.fs.Path(outPath), true)
    }

    // per-stage lineage (task counts, skew, shuffle/spill volume) rides
    // with the artifact as build_metrics.json
    val lineage = new BuildListener
    spark.sparkContext.addSparkListener(lineage)
    val idx = try {
      val (bucketBits, counters) = writeTextSegment(spark, docs, idCol, textCols, outPath, cfg)
      SegmentWriter.commitBase(spark, outPath, cfg, bucketBits, textCols, counters)
    } finally spark.sparkContext.removeSparkListener(lineage)
    try {
      val os = fs.create(new org.apache.hadoop.fs.Path(outPath, "build_metrics.json"), true)
      try os.write(lineage.reportJson().getBytes("UTF-8")) finally os.close()
    } catch { case e: Exception =>
      System.err.println(s"[graft-build] build_metrics.json not written: ${e.getMessage}")
    }
    idx
  }

  /** The text front of every build and append: tokenize `textCols` of
    * `docs` into posting runs (stage 1) and doc lengths (stage 3, a
    * map-only tokenize-count pass) and write them as the segment at `dir`.
    * Returns the segment's bucketBits and its docsRead/tokens/spilledRuns
    * counters (zero for stages a resumed write skipped). */
  private[graft] def writeTextSegment(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCols: Seq[String],
      dir: String,
      cfg: IndexConfig): (Int, Map[String, String]) = {
    import spark.implicits._
    val sectioned = textCols.length > 1
    val docsAcc = spark.sparkContext.longAccumulator("graft.index.docs")
    val tokensAcc = spark.sparkContext.longAccumulator("graft.index.tokens")
    val runsAcc = spark.sparkContext.longAccumulator("graft.index.runs")

    // an auto salt granularity needs the corpus size: IndexConfig.nDocsHint,
    // else a count of the input — not free: under AQE 2 Spark jobs, plus a
    // schema job for a parquet input (3 of a warm 16k-doc build's 11 jobs)
    val bucketBits = cfg.resolveBucketBits(docs.count(), cfg.shufflePartitions(spark))

    val rawDocs = docs
      .select(col(idCol).cast("long"),
        array(textCols.map(c => col(c).cast("string")): _*))
      .as[(Long, Array[String])]
    val counted = rawDocs.mapPartitions { it => it.map { d => docsAcc.add(1L); d } }
    val tokenizerName = cfg.tokenizer
    val lengths = rawDocs.mapPartitions { it =>
      val tokenizer = Analyzers.byName(tokenizerName)
      it.flatMap { case (docId, texts) =>
        var dl = 0
        var s = 0
        while (s < texts.length) {
          val t = texts(s)
          dl += tokenizer.countTokens(if (t == null) "" else t)
          s += 1
        }
        if (dl == 0) None else Some((docId, dl))
      }
    }.toDF("doc_id", "dl")
    SegmentWriter.write(spark, dir,
      tokenizeToRuns(counted, cfg, bucketBits, sectioned, Some(tokensAcc), Some(runsAcc)),
      lengths, cfg)
    (bucketBits, Map(
      "docsRead" -> docsAcc.value.toString,
      "tokens" -> tokensAcc.value.toString,
      "spilledRuns" -> runsAcc.value.toString))
  }
}
