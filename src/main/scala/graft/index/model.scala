package graft.index

import graft.codec.PostingCodec

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

object PostingRunRow {
  /** the run of `payload`, whose headers are `h` */
  def apply(term: String, bucket: Int, h: BlockHeader, payload: Array[Byte]): PostingRunRow =
    PostingRunRow(term, bucket, h.minDoc, h.maxDoc, h.cnt, h.maxTf, h.maxGtf, h.minDl,
      h.tfSum, payload)
}

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
  /** the row of `payload`, whose headers are `h` */
  def apply(term: String, bucket: Int, blk: Int, h: BlockHeader, payload: Array[Byte],
      segOrd: Int): PostingBlockRow =
    PostingBlockRow(term, bucket, blk, h.minDoc, h.maxDoc, h.cnt, h.maxTf, h.maxGtf,
      h.minDl, h.tfSum, payload.length, payload, segOrd)

  /** `blocks` (one term's, of one bucket) merged into ONE block of the
    * postings whose doc passes `keep` ([[BlockBuilder.blocks]], unbounded);
    * term, bucket, blk and seg_ord are the first block's. None when no
    * posting is kept. */
  def rebuild(blocks: Array[PostingBlockRow],
      keep: Long => Boolean = _ => true): Option[PostingBlockRow] = {
    val b = blocks(0)
    BlockBuilder.blocks(blocks.map(_.payload), keep, Int.MaxValue).headOption.map {
      case (h, payload) => PostingBlockRow(b.term, b.bucket, b.blk, h, payload, b.seg_ord)
    }
  }
}

/** The headers of one posting run or block — the role of groonga's chunk
  * headers (lib/ii.cpp:16200-16219). */
final case class BlockHeader(minDoc: Long, maxDoc: Long, cnt: Int, maxTf: Int, maxGtf: Int,
    minDl: Int, tfSum: Long)

/** The one posting-block builder: every run and block header and every
  * re-encoded block of the index comes from here — the spill's runs, the
  * run merge of a build or compaction, the liveness filter and the query
  * kernel's merge of overlapping blocks (groonga builds a chunk and its
  * header in one place too, grn_ii_builder, lib/ii.cpp:18608-18674). */
object BlockBuilder {
  /** The headers of (doc, sid)-ordered postings. max_gtf is the max over
    * doc groups of the summed tf: a doc's (per-section) postings are
    * consecutive, so sid-less postings (every group one posting) give
    * max_gtf = max_tf. */
  def header(docs: Array[Long], tfs: Array[Int], dls: Array[Int]): BlockHeader = {
    var maxTf = 0
    var maxGtf = 0
    var curGtf = 0
    var minDl = Int.MaxValue
    var tfSum = 0L
    var i = 0
    while (i < docs.length) {
      if (tfs(i) > maxTf) maxTf = tfs(i)
      if (i > 0 && docs(i) != docs(i - 1)) { if (curGtf > maxGtf) maxGtf = curGtf; curGtf = 0 }
      curGtf += tfs(i)
      if (dls(i) < minDl) minDl = dls(i)
      tfSum += tfs(i)
      i += 1
    }
    if (curGtf > maxGtf) maxGtf = curGtf
    BlockHeader(docs(0), docs(docs.length - 1), docs.length, maxTf, maxGtf, minDl, tfSum)
  }

  /** Decode `payloads` (each (doc, sid)-ordered, as every run and block
    * is), keep the postings whose doc passes `keep`, order them by
    * (doc, sid) and encode them as blocks of `blockSize` postings, in
    * order. A block grows past `blockSize` rather than split a doc's
    * section group: the query cursor aggregates a doc's sections within
    * one block. Positions and sids are written when the payloads carry
    * them. Empty when no posting is kept. */
  def blocks(payloads: collection.Seq[Array[Byte]], keep: Long => Boolean,
      blockSize: Int): Seq[(BlockHeader, Array[Byte])] = {
    val decoded = payloads.map(PostingCodec.decode)
    val withPos = decoded.exists(_.positions.nonEmpty)
    val withSids = decoded.exists(_.sids.nonEmpty)
    val total = decoded.iterator.map(_.count).sum
    val docs = new Array[Long](total)
    val tfs = new Array[Int](total)
    val dls = new Array[Int](total)
    val sids = new Array[Int](total)
    val poss = new Array[Array[Int]](total)
    var n = 0
    decoded.foreach { d =>
      var i = 0
      var po = 0
      while (i < d.count) {
        if (keep(d.docIds(i))) {
          docs(n) = d.docIds(i); tfs(n) = d.tfs(i); dls(n) = d.dls(i)
          sids(n) = if (d.sids.isEmpty) 1 else d.sids(i)
          poss(n) = if (d.positions.isEmpty) Array.emptyIntArray
            else java.util.Arrays.copyOfRange(d.positions, po, po + d.tfs(i))
          n += 1
        }
        po += d.tfs(i)
        i += 1
      }
    }
    def before(a: Int, b: Int): Boolean =
      docs(a) < docs(b) || (docs(a) == docs(b) && sids(a) < sids(b))
    var ordered = true
    var i = 1
    while (ordered && i < n) { ordered = before(i - 1, i); i += 1 }
    val order = if (ordered) null else sortedOrder(n, before)
    def at(k: Int): Int = if (order == null) k else order(k)
    val out = new scala.collection.mutable.ArrayBuffer[(BlockHeader, Array[Byte])]()
    var s = 0
    while (s < n) {
      var len = math.min(blockSize, n - s)
      while (s + len < n && docs(at(s + len)) == docs(at(s + len - 1))) len += 1
      val bd = new Array[Long](len)
      val bt = new Array[Int](len)
      val bl = new Array[Int](len)
      val bs = new Array[Int](len)
      val bp = new Array[Array[Int]](len)
      var j = 0
      while (j < len) {
        val k = at(s + j)
        bd(j) = docs(k); bt(j) = tfs(k); bl(j) = dls(k); bs(j) = sids(k); bp(j) = poss(k)
        j += 1
      }
      out += header(bd, bt, bl) ->
        PostingCodec.encode(bd, bt, bl, if (withPos) bp else null, if (withSids) bs else null)
      s += len
    }
    out.toSeq
  }

  /** 0 until n, stably merge-sorted by `before` — no boxed key per posting */
  private def sortedOrder(n: Int, before: (Int, Int) => Boolean): Array[Int] = {
    var a = Array.range(0, n)
    var b = new Array[Int](n)
    var width = 1
    while (width < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + width, n)
        val hi = math.min(lo + 2 * width, n)
        var l = lo
        var r = mid
        var o = lo
        while (o < hi) {
          if (r < hi && (l >= mid || before(a(r), a(l)))) { b(o) = a(r); r += 1 }
          else { b(o) = a(l); l += 1 }
          o += 1
        }
        lo = hi
      }
      val t = a; a = b; b = t
      width *= 2
    }
    a
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
