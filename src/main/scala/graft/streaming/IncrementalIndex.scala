package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.index._

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

  /** What one write adds to and removes from the manifest it read. Every
    * write publishes through [[commit]], which derives the new manifest
    * from the base plus this delta:
    *  - `added`: the data segments the write staged, with their SegStats
    *    and Σdl;
    *  - `replaces`: for an added segment that rewrites a run of base data
    *    segments, that run (it takes the run head's slot); every other
    *    added segment is appended;
    *  - `deleted`: a staged delete segment and the live docs it removes;
    *  - `consumesTombstones`: the write folded every existing tombstone;
    *  - `baseStats`: stats measured for base segments when the base
    *    manifest carries none. */
  private[graft] final case class Delta(
      added: Measured = Measured(Nil, 0L, 0L),
      replaces: Map[String, Seq[String]] = Map.empty,
      deleted: Option[StagedDelete] = None,
      consumesTombstones: Boolean = false,
      baseStats: Seq[SegStats] = Nil)

  /** a written, uncommitted delete segment: `docs` live docs of Σdl `sumDl` */
  private[graft] final case class StagedDelete(name: String, docs: Long, sumDl: Long)

  /** The head snapshot a write reads, pinned: the manifest, docs,
    * tombstones and postings it reads are all of this one version. */
  private def readBase(spark: SparkSession, indexPath: String, op: String): GraftIndex = {
    val versions = SegmentCatalog.listVersions(SegmentCatalog.fileSystem(spark, indexPath), indexPath)
    require(versions.nonEmpty, s"$op requires a committed index at $indexPath")
    GraftIndex(spark, indexPath, versions.lastOption)
  }

  /** The version `base`'s commit gets. Versions only grow over an index's
    * whole life (the newest manifest is always retained), and generated
    * dir names carry this one, so a name is never recycled: a retained
    * snapshot can trust that a dir it names still holds what it recorded
    * (the basis of GraftIndex.atVersion's open-time validation). */
  private def commitVersion(base: GraftIndex): Long = base.pinnedVersion.fold(0L)(_ + 1)

  /** The one commit of every write: derive the manifest from `base` and
    * `d`, publish it in one atomic manifest flip, then drop the replaced
    * dirs (a crash before the flip leaves the base readable, after it only
    * unreferenced garbage). Refuses, leaving the head as it was, when
    * another commit landed after `base` was read. */
  private[graft] def commit(base: GraftIndex, d: Delta, metrics: Map[String, String]): GraftIndex = {
    val fs = SegmentCatalog.fileSystem(base.spark, base.path)
    SegmentCatalog.commit(fs, base.path, derive(base.meta, d), metrics, base.pinnedVersion)
    d.replaces.values.flatten.foreach(SegmentCatalog.dropSegment(fs, base.path, _))
    if (d.consumesTombstones)
      base.meta.deleteSegments.foreach(s => fs.delete(new Path(s"${base.path}/$s"), true))
    GraftIndex(base.spark, base.path)
  }

  /** The manifest `d` makes of `meta`. Corpus stats stay exact through
    * every write: a delete subtracts the live docs it hides, then an
    * append adds its own (the order the avgdl arithmetic runs in); a
    * rewrite of some segments keeps them, and a rewrite of every segment
    * re-measures them, folding any rounding drift away. */
  private def derive(meta: IndexMeta, d: Delta): IndexMeta = {
    val replaced = d.replaces.values.flatten.toSet
    val runHead = d.replaces.map { case (n, run) => run.head -> n }
    val appended = d.added.segs.map(_.name).filterNot(d.replaces.contains)
    val names = meta.dataSegments.flatMap(s =>
      if (replaced(s)) runHead.get(s) else Some(s)) ++ appended
    val known = ((if (meta.segStats.map(_.name) == meta.dataSegments) meta.segStats
      else d.baseStats) ++ d.added.segs).map(s => s.name -> s).toMap
    // a legacy base without aligned stats stays legacy (readers fall back)
    val segStats = if (names.forall(known.contains)) names.map(known) else Nil
    def total(f: SegStats => Long, base: Long) =
      if (segStats.nonEmpty) segStats.map(f).sum else base + d.added.segs.map(f).sum
    val rewritesAll = replaced == meta.dataSegments.toSet
    val (n, a) = d.deleted.fold((meta.nDocs, meta.avgdl)) { del =>
      val n = meta.nDocs - del.docs
      (n, if (n <= 0) 0.0 else (meta.avgdl * meta.nDocs - del.sumDl.toDouble) / n)
    }
    val m = n + d.added.nDocs
    val (nDocs, avgdl) =
      if (rewritesAll) (d.added.nDocs, d.added.avgdl)
      else if (appended.isEmpty) (n, a)
      else (m, if (m == 0) 0.0 else (a * n + d.added.avgdl * d.added.nDocs) / m)
    meta.copy(
      // a rewrite re-derives every block (incl. max_gtf); a partial one
      // leaves old blocks, and the version is a whole-artifact guarantee
      formatVersion = if (rewritesAll) IndexBuilder.CurrentFormatVersion else meta.formatVersion,
      nDocs = nDocs,
      avgdl = avgdl,
      totalPostings = total(_.nPostings, meta.totalPostings),
      totalPayloadBytes = total(_.payloadBytes, meta.totalPayloadBytes),
      segments = if (names == meta.dataSegments) meta.segments else names,
      deleteSegments =
        (if (d.consumesTombstones) Nil else meta.deleteSegments) ++ d.deleted.map(_.name),
      segStats = segStats)
  }

  /** Write `docs` as data segment `name` of `base` and measure it. None
    * when `base` already lists `name`: that write committed, and a re-run
    * (a replayed stream batch, a retried call) must not add it twice. A
    * re-run after a LOST commit finds the name unlisted and resumes. */
  private def stageSegment(base: GraftIndex, docs: DataFrame, idCol: String,
      textCol: String, name: String, cfg: IndexConfig): Option[Measured] = {
    require(!(SegmentWriter.Tables :+ ".").contains(name) &&
        !name.contains("/"),
      s"segment name '$name' collides with reserved table/dir names")
    if (base.meta.dataSegments.contains(name)) return None
    // a sectioned base appends with the SAME section columns (docs must
    // expose them); single-column bases use textCol. The segment takes the
    // base's layout (tokenizer, positions, block size, bucket space), so
    // a compaction re-merges its blocks with the base's by (term, bucket).
    val textCols = if (base.meta.sections.nonEmpty) base.meta.sections else Seq(textCol)
    val dir = s"${base.path}/$name"
    val m = base.meta
    IndexBuilder.writeTextSegment(base.spark, docs, idCol, textCols, dir,
      cfg.copy(tokenizer = m.tokenizer, withPositions = m.withPositions,
        blockSize = m.blockSize, bucketBits = m.bucketBits))
    Some(SegmentWriter.measure(base.spark, Seq(name -> dir)))
  }

  /** Write a tombstone segment of (doc_id, gen) rows for `docIds`, gen =
    * the base's data-segment count: it covers every EXISTING segment but
    * not segments appended later (that is what lets upsert re-add the
    * same doc id). Counts the docs it hides that are still live, so
    * corpus stats stay exact until compact (idempotent: the base's docs
    * already exclude earlier tombstones). */
  private def stageDelete(base: GraftIndex, docIds: DataFrame, idCol: String): StagedDelete = {
    import base.spark.implicits._
    val name = f"del-m${commitVersion(base)}%06d"
    val ids = docIds.select(col(idCol).cast("long").as("doc_id")).distinct()
    val (n, sumDl) = base.docs.join(ids, Seq("doc_id"))
      .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).as[(Long, Long)].head()
    ids.withColumn("gen", lit(base.meta.dataSegments.length))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"${base.path}/$name")
    StagedDelete(name, n, sumDl)
  }

  /** Append `docs` as a new segment of a committed index; returns the
    * updated handle. DocIds MUST exceed all existing docIds (append-only).
    * Idempotent per name: appending a name the head lists writes nothing. */
  def appendSegment(
      spark: SparkSession,
      indexPath: String,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      segmentName: String,
      cfg: IndexConfig = IndexConfig()): GraftIndex = {
    val base = readBase(spark, indexPath, "append")
    stageSegment(base, docs, idCol, textCol, segmentName, cfg).fold(GraftIndex(spark, indexPath)) {
      seg => commit(base, Delta(added = seg), Map("appendedSegment" -> segmentName))
    }
  }

  /** Structured-Streaming ingestion front: micro-batches from a streaming
    * DataFrame are appended as segments (one per non-empty batch).
    * `Trigger.AvailableNow` drains a directory batch-style. A segment is
    * named by the query id (kept in the checkpoint, stable across its
    * restarts) and the batch id: a batch replayed after its commit is a
    * no-op append, and a stream under a new checkpoint never meets an
    * earlier stream's names. */
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
          val queryId = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
          appendSegment(spark, indexPath, batch, idCol, textCol,
            f"seg-$queryId-$batchId%05d", cfg)
          ()
        }
      }
      .start()
    q.awaitTermination()
  }

  /** Delete documents: commits a tombstone segment (see [[stageDelete]]).
    * Readers apply tombstones at posting level; compact folds them away
    * physically (groonga grn_ii_delete_one, lib/grn_ii.h:158). */
  def delete(spark: SparkSession, indexPath: String, docIds: DataFrame,
      idCol: String = "doc_id"): GraftIndex = {
    val base = readBase(spark, indexPath, "delete")
    val del = stageDelete(base, docIds, idCol)
    commit(base, Delta(deleted = Some(del)), Map("deleted" -> del.name))
  }

  def delete(spark: SparkSession, indexPath: String, docIds: Seq[Long]): GraftIndex = {
    import spark.implicits._
    delete(spark, indexPath, docIds.toDF("doc_id"))
  }

  /** Upsert (groonga `load` key-merge, /root/reference/lib/load.c:794-1203):
    * tombstone the incoming ids across all existing segments and append
    * the new versions as a fresh segment, in ONE commit — a failed append
    * leaves the index as it was. Buckets touched by the upsert pay
    * a decode-merge at query time until the next compact; untouched buckets
    * keep the streaming fast path. Corpus stats (nDocs/avgdl) are exact at
    * commit time, and per-term df/idf are recomputed exactly at resolve
    * time while tombstones exist (GraftIndex.termStats) — so TF and
    * BM25 both match a from-scratch rebuild without waiting for compact. */
  def upsert(
      spark: SparkSession,
      indexPath: String,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      segmentName: String,
      cfg: IndexConfig = IndexConfig()): GraftIndex = {
    val base = readBase(spark, indexPath, "upsert")
    stageSegment(base, docs, idCol, textCol, segmentName, cfg).fold(GraftIndex(spark, indexPath)) { seg =>
      val del = stageDelete(base, docs.select(col(idCol)), idCol)
      commit(base, Delta(added = seg, deleted = Some(del)),
        Map("deleted" -> del.name, "appendedSegment" -> segmentName))
    }
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
    * base; no re-tokenization. Crash-atomic: the base is written under a
    * fresh versioned dir (base-mN) and published by [[commit]]. */
  def compact(spark: SparkSession, indexPath: String, cfg: IndexConfig = IndexConfig()): GraftIndex = {
    val base = readBase(spark, indexPath, "compact")
    fold(base, Seq(base.meta.dataSegments.indices), cfg,
      _ => s"base-m${commitVersion(base)}", "compacted")
  }

  /** Rewrite each run of `base`'s data segments (manifest ordinals) as one
    * new segment `name(k)`, tombstone-filtered, and commit them all in
    * one delta that consumes every tombstone: each new segment takes its
    * run head's slot. Blocks are filtered block-wise and fed back to the
    * segment writer as runs, which re-merges them across segments by
    * (term, bucket) in the index's own block layout. */
  private def fold(base: GraftIndex, runs: Seq[Seq[Int]], cfg: IndexConfig,
      name: Int => String, metric: String, baseStats: Seq[SegStats] = Nil): GraftIndex = {
    val fs = SegmentCatalog.fileSystem(base.spark, base.path)
    val segs = base.meta.dataSegments
    val dirs = runs.zipWithIndex.map { case (ords, k) =>
      val dir = s"${base.path}/${name(k)}"
      fs.delete(new Path(dir), true)
      val (blocks, docs) = foldInput(base, ords)
      SegmentWriter.write(base.spark, dir, blocks, docs, cfg.copy(blockSize = base.meta.blockSize))
      name(k) -> dir
    }
    commit(base, Delta(SegmentWriter.measure(base.spark, dirs),
        dirs.map(_._1).zip(runs.map(_.map(segs))).toMap,
        consumesTombstones = true, baseStats = baseStats),
      Map(metric -> dirs.map(_._1).mkString(",")))
  }

  /** The live runs and docs of one fold: the blocks and docs of the data
    * segments at manifest ordinals `ords` only, each scan over just those
    * dirs (a seg_ord filter over the whole index would prune no file).
    * Blocks are made live block-wise; a block no tombstone touches is
    * passed on undecoded. */
  private[graft] def foldInput(base: GraftIndex, ords: Seq[Int]): (Dataset[PostingRunRow], DataFrame) = {
    import base.spark.implicits._
    val run = ords.map(base.segDirs)
    val blocks = base.tombstones.liveBlocks(
      base.postingsOf(run).as[PostingBlockRow](GraftIndex.blockEncoder)).map(f =>
      PostingRunRow(f.term, f.bucket, f.min_doc, f.max_doc,
        f.cnt, f.max_tf, f.max_gtf, f.min_dl, f.tf_sum, f.payload))
    (blocks, base.segDocsOf(run).select($"doc_id", $"dl"))
  }

  private case class SegInfo(stats: SegStats, ord: Int, touched: Boolean)

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
    * Crash-atomic like compact: folds land in fresh `fold-mN-K` dirs. */
  def compactPartial(
      spark: SparkSession,
      indexPath: String,
      cfg: IndexConfig = IndexConfig(),
      minKeepPostings: Long = 1L << 20): GraftIndex = {
    val base = readBase(spark, indexPath, "compactPartial")
    val meta = base.meta
    val tombs = base.tombstones.set

    // Per-segment footprint + doc range; a legacy manifest without stats
    // comes out of this compaction with stats persisted.
    val baseStats = base.segStats
    val infos: Seq[SegInfo] = baseStats.zipWithIndex.map { case (ss, i) =>
      SegInfo(ss, i, touched = tombs.hidesAnyIn(ss.minDoc, ss.maxDoc, i))
    }

    // contiguous runs of foldable segments; a run folds if it must (touched
    // tombstones) or if it actually merges something (>= 2 segments)
    val runs = infos.foldLeft(Vector(Vector.empty[SegInfo])) { (acc, si) =>
      if (si.touched || si.stats.nPostings < minKeepPostings) acc.init :+ (acc.last :+ si)
      else acc :+ Vector.empty
    }
    val folds = runs.filter(r => r.exists(_.touched) || r.length >= 2)
    if (folds.isEmpty && meta.deleteSegments.isEmpty) return GraftIndex(spark, indexPath)
    fold(base, folds.map(_.map(_.ord)), cfg, k => s"fold-m${commitVersion(base)}-$k",
      "partialCompacted", baseStats)
  }
}
