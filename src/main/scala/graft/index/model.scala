package graft.index

import graft.codec.{IntVec, LongVec, PostingCodec}

/** A map-side partial posting run: all of one (term, bucket)'s postings seen
  * by one map task between spills, already doc-ordered and block-encoded.
  * The shuffle moves ~vocab x tasks runs instead of one row per (doc, term)
  * — the Spark translation of the reference builder's sorted spill blocks
  * (grn_ii_builder block spill at 0x4000000 values,
  * /root/reference/lib/ii.cpp:15461-15479, 18691-18699).
  * `bucket` = docId >> bucketBits: the docId-range salt that splits a head
  * term's postings across partitions while keeping global docId order.
  */
final case class PostingRunRow(
    term: String,
    bucket: Int,
    min_doc: Long,
    max_doc: Long,
    cnt: Int,
    max_tf: Int,
    /** max over doc GROUPS of the section-summed tf (= max_tf when the run
      * is sid-less — every group is one posting) */
    max_gtf: Int,
    min_dl: Int,
    tf_sum: Long,
    payload: Array[Byte])

/** One encoded posting block — a row of the postings table. Parquet min/max
  * column stats on (term, bucket, min_doc, max_doc) are our skip pointers
  * (role of the chunk dgap headers, /root/reference/lib/ii.cpp:16200-16219);
  * (max_tf, min_dl) are the Block-Max WAND score-bound inputs.
  */
final case class PostingBlockRow(
    term: String,
    bucket: Int,
    blk: Int,
    min_doc: Long,
    max_doc: Long,
    cnt: Int,
    max_tf: Int,
    /** max over the block's doc GROUPS of the section-summed tf. For a
      * sid-less block every group is one posting, so max_gtf == max_tf; for
      * a sectioned block it is the input that makes Block-Max WAND sound
      * (a doc's aggregated score uses the SUM of its per-section tfs, which
      * can exceed the per-posting max_tf). -1 = unknown (block written by a
      * pre-v2 build) — the kernel then skips WAND pruning for safety. */
    max_gtf: Int,
    min_dl: Int,
    tf_sum: Long,
    payload_len: Int,
    payload: Array[Byte],
    /** segment ordinal, assigned at READ time from the manifest's segment
      * order (0 = base). Tombstones of generation g cover postings with
      * seg_ord < g, which is what lets an upsert re-add a live doc id
      * while its old postings stay dead (grn_ii_update_one semantics,
      * /root/reference/lib/grn_ii.h:155). */
    seg_ord: Int = 0)

object PostingBlockRow {
  /** Decode `blocks` (one term's, of one bucket), keep the postings whose
    * doc passes `keep`, (doc, sid)-sort them and re-encode them as ONE
    * block. Its headers (doc range, cnt, max_tf, max_gtf, min_dl, tf_sum)
    * are recomputed from the kept postings; term, bucket, blk and seg_ord
    * are the first block's. None when no posting is kept. */
  def rebuild(blocks: Array[PostingBlockRow],
      keep: Long => Boolean = _ => true): Option[PostingBlockRow] = {
    val docs = new LongVec(16)
    val tfs = new IntVec(16)
    val dls = new IntVec(16)
    val sds = new IntVec(16)
    val poss = new scala.collection.mutable.ArrayBuffer[Array[Int]](16)
    var withPos = false
    var withSids = false
    blocks.foreach { b =>
      val d = PostingCodec.decode(b.payload)
      if (d.positions.nonEmpty) withPos = true
      if (d.sids.nonEmpty) withSids = true
      var i = 0
      var po = 0
      while (i < d.count) {
        val doc = d.docIds(i)
        if (keep(doc)) {
          docs += doc; tfs += d.tfs(i); dls += d.dls(i)
          sds += (if (d.sids.isEmpty) 1 else d.sids(i))
          poss += (if (d.positions.isEmpty) Array.emptyIntArray
            else java.util.Arrays.copyOfRange(d.positions, po, po + d.tfs(i)))
        }
        po += d.tfs(i)
        i += 1
      }
    }
    val n = docs.length
    if (n == 0) return None
    val da = docs.toArray
    val sa = sds.toArray
    val order = Array.range(0, n).sortBy(k => (da(k), sa(k)))
    val od = new Array[Long](n)
    val ot = new Array[Int](n)
    val ol = new Array[Int](n)
    val os = new Array[Int](n)
    val op = new Array[Array[Int]](n)
    val ta = tfs.toArray
    val la = dls.toArray
    var k = 0
    var maxTf = 0
    var maxGtf = 0
    var curGtf = 0
    var minDl = Int.MaxValue
    var tfSum = 0L
    while (k < n) {
      val src = order(k)
      od(k) = da(src); ot(k) = ta(src); ol(k) = la(src); os(k) = sa(src); op(k) = poss(src)
      if (ot(k) > maxTf) maxTf = ot(k)
      if (k > 0 && od(k) != od(k - 1)) { if (curGtf > maxGtf) maxGtf = curGtf; curGtf = 0 }
      curGtf += ot(k)
      if (ol(k) < minDl) minDl = ol(k)
      tfSum += ot(k)
      k += 1
    }
    if (curGtf > maxGtf) maxGtf = curGtf
    val payload = PostingCodec.encode(od, ot, ol,
      if (withPos) op else null, if (withSids) os else null)
    val h = blocks(0)
    Some(PostingBlockRow(h.term, h.bucket, h.blk, od(0), od(n - 1), n,
      maxTf, maxGtf, minDl, tfSum, payload.length, payload, h.seg_ord))
  }
}

final case class TermStatRow(term: String, df: Long, total_tf: Long, max_tf: Int)

/** Index-wide constants persisted in the manifest. */
final case class IndexMeta(
    formatVersion: Int,
    tokenizer: String,
    withPositions: Boolean,
    blockSize: Int,
    bucketBits: Int,
    nDocs: Long,
    avgdl: Double,
    totalPostings: Long,
    totalPayloadBytes: Long,
    segments: Seq[String],
    /** indexed column names in sid order (sid = position + 1); empty for a
      * single-column index (no sid stream in the postings) — the Spark
      * counterpart of groonga's WITH_SECTION multi-column index
      * (/root/reference/include/groonga/groonga.h:777) */
    sections: Seq[String] = Nil,
    /** tombstone segment dirs, each holding (doc_id, gen) rows: doc_id is
      * dead in all data segments with seg_ord < gen. Folded away by
      * compact. (delete path of grn_ii_delete_one, lib/grn_ii.h:158) */
    deleteSegments: Seq[String] = Nil,
    /** per-data-segment statistics, aligned by `name` with
      * `dataSegments`, the NORMALIZED segment list ("." = root base).
      * Persisted at every commit so a reader/compactor gets doc ranges
      * and footprints from ONE manifest read — at 10k+ segments a
      * per-file parquet-footer loop is minutes of driver-sequential
      * metadata IO per index open.
      * Empty on legacy manifests: readers measure the segments instead,
      * in one stats pass (the reference keeps chunk stats inline in the
      * buffer headers for the same reason, groonga lib/ii.cpp:16200). */
    segStats: Seq[SegStats] = Nil) {

  /** data segment dirs in manifest order, "." = the root base. A base
    * build lists its table names as its segments; that list reads as ".".
    * Only a list made of table names alone does, so a mixed list fails
    * loudly on read instead of silently hiding segments. */
  def dataSegments: Seq[String] =
    if (segments.forall(IndexMeta.BaseTables.contains)) Seq(".") else segments
}

object IndexMeta {
  /** the segment list a fresh base build commits */
  val BaseTables: Seq[String] = Seq("postings", "terms", "docs")
}

/** One data segment's manifest-persisted statistics. `minDoc`/`maxDoc` are
  * the DOCS-table id range (Long.MaxValue/MinValue when empty) — a superset
  * of the postings doc range, so sound for both the id-order-scan
  * ascending-invariant check and tombstone-touch tests. */
final case class SegStats(
    name: String,
    nDocs: Long,
    minDoc: Long,
    maxDoc: Long,
    nPostings: Long,
    payloadBytes: Long)

final case class IndexConfig(
    tokenizer: String = "TokenBigram",
    withPositions: Boolean = true,
    blockSize: Int = 128,
    /** bucket = docId >> bucketBits — the head-term salt. <= 0 means auto:
      * sized so the corpus spreads over ~4 buckets per shuffle partition
      * (a Zipf head term's postings then split across every partition
      * instead of serializing on one reducer). */
    bucketBits: Int = -1,
    numPartitions: Int = 0,
    /** map-side spill threshold in buffered postings (reference analogue:
      * grn_ii_builder block threshold, /root/reference/lib/ii.cpp:15472) */
    spillPostings: Int = 1 << 20,
    /** corpus size hint; when > 0 the builder skips the docs.count() job
      * used to auto-size the bucket salt */
    nDocsHint: Long = 0L) {

  /** bucketBits for a corpus over `partitions`: the configured value, else
    * auto-sized from the corpus size — `nDocsHint`, else `count`, which is
    * only run here */
  def resolveBucketBits(count: => Long, partitions: Int): Int =
    if (bucketBits >= 0) bucketBits
    else {
      val nDocs = if (nDocsHint > 0) nDocsHint else count
      val targetBuckets = math.max(1L, 4L * partitions)
      val bucketSize = math.max(1L, nDocs / targetBuckets)
      math.max(0, 63 - java.lang.Long.numberOfLeadingZeros(bucketSize))
    }

  /** shuffle width of every index write: `numPartitions`, else the
    * session's spark.sql.shuffle.partitions */
  def shufflePartitions(spark: org.apache.spark.sql.SparkSession): Int =
    if (numPartitions > 0) numPartitions else spark.sessionState.conf.numShufflePartitions
}
