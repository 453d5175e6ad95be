package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Generation tombstones of one index snapshot — the ONE place the liveness
  * rule is stated. A delete commits (doc_id, gen) rows, gen = the data
  * segment count at delete time. A posting (or docs row) of doc d in the
  * segment with manifest ordinal seg_ord is LIVE iff d has no tombstone or
  * seg_ord >= maxGen(d) — which is what lets an upsert re-add a deleted id
  * in a later segment while its old postings stay dead (grn_ii_delete_one /
  * grn_ii_update_one, lib/grn_ii.h:155-158 in groonga).
  *
  * The delete segments are read ONCE per snapshot, into the max-gen-per-doc
  * table [[set]]; every form of the rule derives from it, so search, term
  * stats, suggest, export, doc vectors and compaction cannot disagree:
  *  - [[set]]: sorted driver arrays; [[TombstoneSet.liveBlock]] is the
  *    rule for a posting block, and every postings reader gets its blocks
  *    through it;
  *  - [[broadcastSet]]: [[set]] shipped once per executor;
  *  - [[liveBlocks]]: [[TombstoneSet.liveBlock]] over a block array on
  *    the driver, or over a block Dataset on the broadcast;
  *  - [[live]]: a DataFrame filter for `docs` rows, on the broadcast (no
  *    join, no second read). */
final class Tombstones(spark: SparkSession, path: String, deleteSegments: Seq[String]) {
  def isEmpty: Boolean = deleteSegments.isEmpty
  def nonEmpty: Boolean = !isEmpty

  /** the highest tombstone generation per deleted doc, as driver arrays.
    * Bounded: a tombstone set past the cap means the index needs a
    * compact, not a bigger driver. */
  lazy val set: TombstoneSet =
    if (isEmpty) TombstoneSet.Empty
    else {
      val rows = spark.read.schema("doc_id BIGINT, gen INT")
        .parquet(deleteSegments.map(s => s"$path/$s"): _*)
        .groupBy(col("doc_id")).agg(max(col("gen")).cast("int").as("gen"))
        .collect()
      require(rows.length <= Tombstones.MaxDriverTombstones,
        s"${rows.length} tombstones exceed the driver cap " +
          s"(${Tombstones.MaxDriverTombstones}) — run IncrementalIndex.compact " +
          s"on $path to fold deletes into the base")
      val sorted = rows.map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
      TombstoneSet(sorted.map(_._1), sorted.map(_._2))
    }

  /** [[set]] shipped ONCE per executor, not serialized into every task
    * closure — at the driver cap (millions of entries) a closure-embedded
    * copy would dominate task dispatch. None when there are no deletes. */
  private lazy val broadcastSet: Option[Broadcast[TombstoneSet]] =
    if (isEmpty) None else Some(spark.sparkContext.broadcast(set))

  /** the live form of each of `blocks` ([[TombstoneSet.liveBlock]]) */
  def liveBlocks(blocks: Array[PostingBlockRow]): Array[PostingBlockRow] =
    if (isEmpty) blocks else blocks.flatMap(set.liveBlock)

  /** the live form of each of `blocks`, applied in the tasks that read
    * them, so dead postings never reach a shuffle */
  def liveBlocks(blocks: Dataset[PostingBlockRow]): Dataset[PostingBlockRow] =
    broadcastSet match {
      case None => blocks
      case Some(bc) => blocks.flatMap(b => bc.value.liveBlock(b))(GraftIndex.blockEncoder)
    }

  /** the live subset of `docs` rows, which must carry `doc_id` and `seg_ord` */
  def live(rows: DataFrame): DataFrame = broadcastSet match {
    case None => rows
    case Some(bc) =>
      val isLive = udf((doc: Long, segOrd: Int) => bc.value.isLive(doc, segOrd))
      rows.where(isLive(col("doc_id"), col("seg_ord")))
  }
}

object Tombstones {
  /** tombstone sets past this size must be compacted away, not shipped to
    * every task */
  final val MaxDriverTombstones: Int = 5000000
}

/** Array form of the max-gen table: `docs` ascending, `gens(i)` the max
  * generation of `docs(i)`. */
final case class TombstoneSet(docs: Array[Long], gens: Array[Int]) {
  /** the liveness rule for a posting of `doc` in segment `segOrd` */
  def isLive(doc: Long, segOrd: Int): Boolean = {
    val j = java.util.Arrays.binarySearch(docs, doc)
    j < 0 || segOrd >= gens(j)
  }

  /** true iff some doc in [lo, hi] is dead in segment `segOrd` */
  def hidesAnyIn(lo: Long, hi: Long, segOrd: Int): Boolean = {
    var a = 0 // lower bound: first tombstoned doc >= lo
    var b = docs.length
    while (a < b) {
      val m = (a + b) >>> 1
      if (docs(m) < lo) a = m + 1 else b = m
    }
    while (a < docs.length && docs(a) <= hi) {
      if (segOrd < gens(a)) return true
      a += 1
    }
    false
  }

  /** THE liveness rule for a posting block: `b` itself, undecoded, when no
    * tombstone hides a doc of its range in its segment; else its live
    * postings re-encoded as one block with recomputed headers
    * ([[PostingBlockRow.rebuild]]); None when every posting is dead */
  def liveBlock(b: PostingBlockRow): Option[PostingBlockRow] =
    if (!hidesAnyIn(b.min_doc, b.max_doc, b.seg_ord)) Some(b)
    else PostingBlockRow.rebuild(Array(b), isLive(_, b.seg_ord))
}

object TombstoneSet {
  val Empty: TombstoneSet = TombstoneSet(Array.emptyLongArray, Array.emptyIntArray)
}
