package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.index._
import graft.query.MatchKernel

/** Incremental index maintenance: new documents land as additional
  * SEGMENTS; readers union segments (docIds are append-only, so segment doc
  * ranges stay disjoint and posting streams stay ordered).
  *
  * Semantic counterpart of the reference's incremental update
  * (grn_ii_update_one, /root/reference/lib/grn_ii.h:155: buffers take
  * mutations, immutable chunks hold bulk — here: small appended segments
  * play the buffer role, `compact` folds them into a new base like the
  * buffer->chunk merges of lib/ii.cpp:3300-7900).
  */
object IncrementalIndex {

  /** Append `docs` as a new segment of a committed index; returns the
    * updated handle. DocIds MUST exceed all existing docIds (append-only). */
  def appendSegment(
      spark: SparkSession,
      indexPath: String,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      segmentName: String,
      cfg: IndexConfig = IndexConfig()): GraftIndex = {
    require(!Set("postings", "terms", "terms_rev", "docs", ".").contains(segmentName) &&
        !segmentName.contains("/"),
      s"segment name '$segmentName' collides with reserved table/dir names")
    val fs = SegmentCatalog.fileSystem(spark, indexPath)
    require(SegmentCatalog.isCommitted(fs, indexPath),
      s"append requires a committed base index at $indexPath")
    val base = SegmentCatalog.readMeta(fs, indexPath)

    // a sectioned base appends with the SAME section columns (docs must
    // expose them); single-column bases use textCol. The segment's
    // bucketBits are sized from the batch, as for a fresh build.
    val textCols = if (base.sections.nonEmpty) base.sections else Seq(textCol)
    val segPath = s"$indexPath/$segmentName"
    IndexBuilder.writeTextSegment(spark, docs, idCol, textCols, segPath,
      cfg.copy(tokenizer = base.tokenizer, withPositions = base.withPositions))
    val seg = SegmentWriter.measure(spark, Seq(segmentName -> segPath))

    val oldSegs = base.dataSegments
    val nDocs = base.nDocs + seg.nDocs
    val totalTokens = base.avgdl * base.nDocs + seg.avgdl * seg.nDocs
    // segment stats ride the manifest forward. A legacy base without
    // aligned stats stays legacy (readers fall back) until compact.
    val newStats =
      if (base.segStats.map(_.name) == oldSegs) base.segStats ++ seg.segs else Nil
    val merged = base.copy(
      nDocs = nDocs,
      avgdl = if (nDocs == 0) 0.0 else totalTokens / nDocs,
      totalPostings = base.totalPostings + seg.nPostings,
      totalPayloadBytes = base.totalPayloadBytes + seg.payloadBytes,
      segments = oldSegs :+ segmentName,
      segStats = newStats)
    SegmentCatalog.commit(fs, indexPath, merged,
      Map("appendedSegment" -> segmentName))
    GraftIndex(spark, indexPath)
  }

  /** Structured-Streaming ingestion front: micro-batches from a streaming
    * DataFrame are appended as segments (one per non-empty batch).
    * `Trigger.AvailableNow` drains a directory batch-style. */
  def streamAppend(
      spark: SparkSession,
      stream: DataFrame,
      indexPath: String,
      idCol: String,
      textCol: String,
      checkpoint: String,
      cfg: IndexConfig = IndexConfig()): Unit = {
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          appendSegment(spark, indexPath, batch, idCol, textCol,
            f"seg-$batchId%05d", cfg)
          ()
        }
      }
      .start()
    q.awaitTermination()
  }

  /** Delete documents: commits a tombstone segment of (doc_id, gen) rows;
    * gen = current data-segment count, so the tombstone covers every
    * EXISTING segment but not segments appended later (that is what lets
    * upsert re-add the same doc id). Readers apply tombstones at posting
    * level; compact folds them away physically
    * (grn_ii_delete_one, /root/reference/lib/grn_ii.h:158). */
  def delete(spark: SparkSession, indexPath: String, docIds: DataFrame,
      idCol: String = "doc_id"): GraftIndex = {
    import spark.implicits._
    val fs = SegmentCatalog.fileSystem(spark, indexPath)
    require(SegmentCatalog.isCommitted(fs, indexPath),
      s"delete requires a committed index at $indexPath")
    val meta = SegmentCatalog.readMeta(fs, indexPath)
    // tombstone generation = data-segment count
    val gen = meta.dataSegments.length
    // name carries the next manifest version: unique across the index's
    // WHOLE history (a count-derived name recycles after a compaction
    // resets the list, which would let an expired snapshot read a
    // recreated dir with different tombstones — see GraftIndex.atVersion)
    val name = f"del-m${SegmentCatalog.nextVersion(fs, indexPath)}%06d"
    val ids = docIds.select(col(idCol).cast("long").as("doc_id")).distinct()
    // corpus stats stay EXACT across deletes: subtract only docs that are
    // currently LIVE (idempotent — GraftIndex.docs already excludes
    // earlier tombstones), so BM25 avgdl/idf don't drift until compact
    val live = GraftIndex(spark, indexPath).docs.join(ids, Seq("doc_id"))
      .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).as[(Long, Long)].head()
    ids.withColumn("gen", lit(gen))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$indexPath/$name")
    val newN = meta.nDocs - live._1
    val newAvgdl =
      if (newN <= 0) 0.0
      else (meta.avgdl * meta.nDocs - live._2.toDouble) / newN
    SegmentCatalog.commit(fs, indexPath,
      meta.copy(nDocs = newN, avgdl = newAvgdl,
        deleteSegments = meta.deleteSegments :+ name),
      Map("deleted" -> name))
    GraftIndex(spark, indexPath)
  }

  def delete(spark: SparkSession, indexPath: String, docIds: Seq[Long]): GraftIndex = {
    import spark.implicits._
    delete(spark, indexPath, docIds.toDF("doc_id"))
  }

  /** Upsert (groonga `load` key-merge, /root/reference/lib/load.c:794-1203):
    * tombstone the incoming ids across all existing segments, then append
    * the new versions as a fresh segment. Buckets touched by the upsert pay
    * a decode-merge at query time until the next compact; untouched buckets
    * keep the streaming fast path. Corpus stats (nDocs/avgdl) are exact at
    * commit time, and per-term df/idf are recomputed exactly at resolve
    * time while tombstones exist (GraftIndex.exactTermStats) — so TF and
    * BM25 both match a from-scratch rebuild without waiting for compact. */
  def upsert(
      spark: SparkSession,
      indexPath: String,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      segmentName: String,
      cfg: IndexConfig = IndexConfig()): GraftIndex = {
    delete(spark, indexPath, docs.select(col(idCol)), idCol)
    appendSegment(spark, indexPath, docs, idCol, textCol, segmentName, cfg)
  }

  /** `load` with the reference's full record-merge controls
    * (grn_load_internal, /root/reference/lib/load.c:1844-1955):
    *
    *  - `--each`: an expression applied to every incoming record before
    *    load — here a DataFrame transform (any Column rewrite).
    *  - `--ifexists`: records whose id ALREADY EXISTS are applied only
    *    when the predicate holds over the EXISTING record (columns of
    *    `existing`); failing records are skipped. Brand-new ids always
    *    load.
    *
    * `existing` is the caller's current record table (this engine indexes
    * the caller's storage rather than owning it — SURVEY §1.1). Returns
    * the updated index; the caller applies the same merge to its table. */
  def load(
      spark: SparkSession,
      indexPath: String,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      segmentName: String,
      existing: DataFrame,
      cfg: IndexConfig = IndexConfig(),
      ifexists: Option[org.apache.spark.sql.Column] = None,
      each: Option[DataFrame => DataFrame] = None): GraftIndex = {
    val prepared = each.map(_(incoming)).getOrElse(incoming)
    val existingIds = existing.select(col(idCol))
    val survivors = ifexists match {
      case None => prepared
      case Some(pred) =>
        // existing ids failing the predicate are dropped from the batch;
        // the anti-join keeps genuinely new ids unconditionally
        val allowedExisting = prepared.join(
          existing.where(pred).select(col(idCol)), Seq(idCol), "left_semi")
        val fresh = prepared.join(existingIds, Seq(idCol), "left_anti")
        allowedExisting.unionByName(fresh)
    }
    if (survivors.isEmpty) GraftIndex(spark, indexPath)
    else {
      // the joins above destroy row order; restore the builder's
      // ascending-unique-ids-per-partition precondition
      val ordered = survivors
        .repartitionByRange(col(idCol)).sortWithinPartitions(col(idCol))
      upsert(spark, indexPath, ordered, idCol, textCol, segmentName, cfg)
    }
  }

  /** Fold all segments AND tombstones into a fresh base. Posting blocks
    * already have the run layout, so compaction is: (tombstone-filter) →
    * union block rows → shuffle by (term, bucket) → merge/re-chunk → new
    * base; no re-tokenization.
    *
    * Crash-atomic: everything is written under a fresh versioned dir
    * (base-vN) and the manifest pointer is flipped in one atomic rename —
    * a crash at any point leaves the previous committed state readable.
    * Old dirs are removed only after the commit. */
  def compact(spark: SparkSession, indexPath: String, cfg: IndexConfig = IndexConfig()): GraftIndex = {
    val fs = SegmentCatalog.fileSystem(spark, indexPath)
    val idx = GraftIndex(spark, indexPath)
    val meta = idx.meta

    // manifest-version-derived: never recycled across the index's history
    // (a count-derived base-vN could be recreated after later compactions,
    // silently invalidating retained snapshots that referenced the old one)
    val dstName = s"base-m${SegmentCatalog.nextVersion(fs, indexPath)}"
    val dst = s"$indexPath/$dstName"
    fs.delete(new Path(dst), true)
    writeLive(idx, idx.postings, idx.docs, dst, cfg) // tombstone-filtered
    // fresh corpus stats (delete/upsert drift folds away here)
    val st = SegmentWriter.measure(spark, Seq(dstName -> dst))

    // COMMIT: atomic manifest pointer flip to the new versioned base
    SegmentCatalog.commit(fs, indexPath,
      meta.copy(
        // compact re-derives every block (incl. max_gtf), so the artifact
        // is current-format even if the input base predated it
        formatVersion = IndexBuilder.CurrentFormatVersion,
        nDocs = st.nDocs,
        avgdl = st.avgdl,
        totalPostings = st.nPostings,
        totalPayloadBytes = st.payloadBytes,
        segments = Seq(dstName),
        deleteSegments = Nil,
        segStats = st.segs),
      Map("compacted" -> dstName))

    // cleanup after commit (crash here only leaves unreferenced garbage)
    meta.dataSegments.foreach(SegmentCatalog.dropSegment(fs, indexPath, _))
    meta.deleteSegments.foreach(s => fs.delete(new Path(s"$indexPath/$s"), true))
    GraftIndex(spark, indexPath)
  }

  /** Write `blocks` and `docs` of `idx` as a new segment at `dst`: blocks
    * are tombstone-filtered block-wise and fed back to the segment writer
    * as runs, which re-merges them across segments by (term, bucket) in
    * the index's own block layout. `docs` must already be live. */
  private def writeLive(idx: GraftIndex, blocks: DataFrame, docs: DataFrame,
      dst: String, cfg: IndexConfig): Unit = {
    import idx.spark.implicits._
    // broadcast, not closure-embedded: shipped once per executor
    val bc = idx.tombstones.broadcastSet
    val runs = blocks.as[PostingBlockRow].flatMap { b =>
      val ts = bc.fold(TombstoneSet.Empty)(_.value)
      val live = if (ts.isEmpty) Some(b) else MatchKernel.filterBlocks(Array(b), ts)
      live.map(f => PostingRunRow(f.term, f.bucket, f.min_doc, f.max_doc,
        f.cnt, f.max_tf, f.max_gtf, f.min_dl, f.tf_sum, f.payload))
    }
    SegmentWriter.write(idx.spark, dst, runs, docs,
      cfg.copy(withPositions = idx.meta.withPositions, blockSize = idx.meta.blockSize),
      idx.meta.sections.nonEmpty)
  }

  private case class SegInfo(stats: SegStats, ord: Int, touched: Boolean) {
    def name: String = stats.name
    def nPostings: Long = stats.nPostings
  }

  /** LEVELED (partial) compaction — the scale path. `compact` rewrites the
    * whole base; at 100 TB a compaction triggered by a 0.1% tombstone set
    * must NOT re-shuffle 100 TB. This folds only segments that need it —
    * tombstone-touched ones and those below `minKeepPostings` — merging
    * each CONTIGUOUS run of foldable segments into one new segment, and
    * leaves large clean segments byte-untouched (their blocks are already
    * in final form — the builder's lone-run fast path writes the same
    * layout). Contiguity preserves the ascending-disjoint segment doc-range
    * invariant (manifest order == doc order), which the id-order scan fast
    * path and the kernel's streaming cursors rely on.
    *
    * Reference analogue: grn_ii's buffer→chunk merges fold only dirty
    * buffers into chunks, never the whole index
    * (/root/reference/lib/ii.cpp:3300-7900).
    *
    * All tombstones are consumed (a tombstone's segment is by definition
    * touched, hence folded), so the commit drops deleteSegments entirely.
    * Crash-atomic like compact: folds land in fresh `fold-G-K` dirs, the
    * manifest flip is one atomic rename, replaced dirs are deleted after. */
  def compactPartial(
      spark: SparkSession,
      indexPath: String,
      cfg: IndexConfig = IndexConfig(),
      minKeepPostings: Long = 1L << 20): GraftIndex = {
    import spark.implicits._
    val fs = SegmentCatalog.fileSystem(spark, indexPath)
    val idx = GraftIndex(spark, indexPath)
    val meta = idx.meta
    val tombs = idx.tombstones.set
    val segs = meta.dataSegments

    // Per-segment footprint + doc range: straight from the MANIFEST when
    // this index has committed segment stats (zero jobs, zero file IO — the
    // 100-TB path: a 0.1%-tombstone compaction must not pay a metadata scan
    // of every segment first). Legacy manifests without stats pay one
    // measure (one postings + one docs query, never a per-segment driver
    // loop) and come out of this compaction with stats persisted.
    val baseStats: Seq[SegStats] =
      if (meta.segStats.map(_.name) == segs) meta.segStats
      else SegmentWriter.measure(spark,
        segs.map(s => s -> SegmentCatalog.segmentDir(indexPath, s))).segs
    val infos: Seq[SegInfo] = baseStats.zipWithIndex.map { case (ss, i) =>
      SegInfo(ss, i, touched = tombs.hidesAnyIn(ss.minDoc, ss.maxDoc, i))
    }

    // contiguous runs of foldable segments; a run folds if it must (touched
    // tombstones) or if it actually merges something (>= 2 segments)
    def foldableSeg(si: SegInfo) = si.touched || si.nPostings < minKeepPostings
    val runs = scala.collection.mutable.ArrayBuffer.empty[Vector[SegInfo]]
    var cur = Vector.empty[SegInfo]
    infos.foreach { si =>
      if (foldableSeg(si)) cur :+= si
      else { if (cur.nonEmpty) { runs += cur; cur = Vector.empty } }
    }
    if (cur.nonEmpty) runs += cur
    val folds = runs.filter(r => r.exists(_.touched) || r.length >= 2).toSeq
    if (folds.isEmpty && meta.deleteSegments.isEmpty) return idx // nothing to do

    // generation = next manifest version: globally unique fold names (the
    // old max-over-current-segments counter recycled names once folds were
    // themselves folded away — fatal for retained-snapshot validation)
    val gen = SegmentCatalog.nextVersion(fs, indexPath)

    val foldNames: Map[Int, String] = folds.zipWithIndex.map { case (run, k) =>
      val dstName = s"fold-m$gen-$k"
      val dst = s"$indexPath/$dstName"
      fs.delete(new Path(dst), true)
      // postings and docs of just this run, tombstone-filtered with the
      // run segments' ordinals
      val ords = run.map(_.ord)
      writeLive(idx, idx.postings.where($"seg_ord".isin(ords: _*)),
        idx.tombstones.live(run.map { si =>
          spark.read.parquet(s"${SegmentCatalog.segmentDir(indexPath, si.name)}/docs")
            .select($"doc_id", $"dl").withColumn("seg_ord", lit(si.ord))
        }.reduce(_.unionByName(_))).select($"doc_id", $"dl"),
        dst, cfg)
      run.head.ord -> dstName
    }.toMap

    val foldedOrds = folds.flatMap(_.map(_.ord)).toSet
    // full stats for the fold dirs: ONE measure across all folds (kept
    // segments keep their measured footprint from the manifest — no IO)
    val foldStatsByName: Map[String, SegStats] = SegmentWriter.measure(spark,
      foldNames.values.toSeq.map(n => n -> s"$indexPath/$n")).segs.map(s => s.name -> s).toMap
    // the new segment list with its stats, in order: kept segments ride
    // through untouched, a fold dir takes its run head's slot
    val newSegStats = infos.flatMap { si =>
      if (!foldedOrds.contains(si.ord)) Some(si.stats)
      else foldNames.get(si.ord).map(foldStatsByName)
    }

    // COMMIT (atomic manifest flip); nDocs/avgdl are already exact through
    // mutations, tombstones are now folded away physically. The format
    // version only advances when EVERY segment was re-derived (kept
    // segments' blocks are untouched, so a partial fold of a v1 index must
    // stay v1 — the version is a whole-artifact per-block guarantee).
    SegmentCatalog.commit(fs, indexPath,
      meta.copy(
        formatVersion =
          if (foldedOrds.size == infos.size) IndexBuilder.CurrentFormatVersion
          else meta.formatVersion,
        totalPostings = newSegStats.map(_.nPostings).sum,
        totalPayloadBytes = newSegStats.map(_.payloadBytes).sum,
        segments = newSegStats.map(_.name),
        deleteSegments = Nil,
        segStats = newSegStats),
      Map("partialCompacted" -> foldNames.values.mkString(",")))

    // cleanup after commit (crash here only leaves unreferenced garbage)
    folds.flatten.foreach(si => SegmentCatalog.dropSegment(fs, indexPath, si.name))
    meta.deleteSegments.foreach(s => fs.delete(new Path(s"$indexPath/$s"), true))
    GraftIndex(spark, indexPath)
  }
}
